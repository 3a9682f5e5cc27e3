"""LLM-training-data pipeline queries (SURVEY §2.12 #68–#76 + extensions).

Dedup families, similarity search, text analysis, embedding math, multimodal
plumbing — every key registered with a DuckDB SQL oracle: exact relational
semantics directly; the hash/sketch/index families (MinHash LSH, SimHash,
ANN, IVF, CMS, fingerprints) via deterministic engine-neutral constructions
(round 6); the multimodal decode keys via committed dual-implementation golden
fixtures with independence guards (round 7, see _MM_*_FIXTURE). Property
tests live in tests/test_llm_ops.py, oracle-independence evidence in
tests/test_multimodal_oracle.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions import vector
from .functions.parity import fixed_point_join
from .operators import dedup, multimodal, similarity, text
from .operators.curation import contaminated_pairs, pack_sequences
from .registry import load_tables
from .sources.fixtures import FIXTURES_DIR

# ---------------------------------------------------------------------------
# Dedup (#68, #69 + SimHash / n-gram / embedding families)
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact_docs",
    oracle="""
    SELECT doc_id, text, lang
    FROM (
        SELECT doc_id, text, lang,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#68 Exact text dedup (hash-groupBy keep-rule). The corpus has no
    byte-identical duplicates, so output == input — asserted by the oracle."""
    t = load_tables(spark, sf_dir)
    return dedup.dedup_exact(
        t["documents"].select("doc_id", "text", "lang"),
        keys=["text"],
        order_by=["doc_id"],
    )


def _minhash_oracle_sql(threshold: float = 0.5, n: int = 3) -> str:
    """DuckDB replay of operators.dedup.minhash_portable_pairs: poly_hash
    shingle hashes mod P, the five fixed LCG permutations, min-signature,
    OR-banded candidates as a UNION of equi-joins, map-side exact-Jaccard
    verify via list_intersect. Coefficients are single-sourced from
    operators.dedup._MINHASH_COEFFS so engine and oracle can never drift."""
    from .operators.dedup import _MINHASH_COEFFS, _MINHASH_P

    ph = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(string_split(s, ''),"
        " c -> CAST(unicode(c) AS BIGINT))),"
        " (a, x) -> (a * 131 + x) % 1099511627776)"
    )
    mhs = ",\n           ".join(
        f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {_MINHASH_P}))"
        f" AS mh{i}"
        for i, (a, b) in enumerate(_MINHASH_COEFFS)
    )
    cands = "\n        UNION\n".join(
        f"        SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
        f"        FROM sig a JOIN sig b\n"
        f"          ON a.mh{i} = b.mh{i} AND a.doc_id < b.doc_id"
        for i in range(len(_MINHASH_COEFFS))
    )
    sh_expr = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           tk -> tk <> '') AS t
        FROM documents WHERE text IS NOT NULL
    ), sig AS (
        SELECT doc_id, hs, {mhs}
        FROM (
            SELECT doc_id,
                   list_distinct(list_transform(
                       [{sh_expr} FOR i IN generate_series(1, len(t) - {n - 1})],
                       s -> {ph} % {_MINHASH_P})) AS hs
            FROM toks WHERE len(t) >= {n}
        )
    ), cand AS (
{cands}
    )
    SELECT id_a, id_b,
           ROUND(1.0 - CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                 / (len(sa.hs) + len(sb.hs)
                    - len(list_intersect(sa.hs, sb.hs))), 8) AS jaccard_dist
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.id_a
    JOIN sig sb ON sb.doc_id = cand.id_b
    WHERE 1.0 - CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
          / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
          < {1.0 - threshold}
    """


@register("q_dedup_minhash", oracle=_minhash_oracle_sql(threshold=0.5))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#69 MinHash LSH near-dup pairs (3-word shingles, Jaccard ≥ 0.5).

    SQL-oracle-checked since round 6 (previously rows-only): the
    registered key runs ``minhash_portable_pairs`` — Rabin-Karp shingle
    hashes mod 2^31-1 and five fixed LCG permutations instead of MLlib's
    JVM-seeded MinHashLSH — which DuckDB replays hash-for-hash
    (``_minhash_oracle_sql``; the same upgrade path as
    q_text_fingerprint's xxhash64→poly_hash in round 5). It is the
    engine's only MinHash; its precision is property-checked vs exact
    shingle Jaccard in tests."""
    t = load_tables(spark, sf_dir)
    return dedup.minhash_portable_pairs(t["documents"], jaccard_threshold=0.5)


def _simhash_oracle_sql(max_hamming: int = 8) -> str:
    """DuckDB replay of operators.dedup.simhash_portable_pairs: poly-hash
    token folds → 3-token shingle folds (·131 mod 2^40 throughout) →
    per-bit frequency votes → 40-bit packed signature → 4×10-bit band
    candidates (UNION of equi-joins) → Hamming ≤ ``max_hamming`` via
    bit_count(xor)."""
    mod = 1 << 40
    ph = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(string_split(tk, ''),"
        " c -> CAST(unicode(c) AS BIGINT))),"
        f" (a, x) -> (a * 131 + x) % {mod})"
    )
    cands = "\n        UNION\n".join(
        f"        SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
        f"        FROM sig a JOIN sig b\n"
        f"          ON (a.s >> {10 * i}) & 1023 = (b.s >> {10 * i}) & 1023\n"
        f"         AND a.doc_id < b.doc_id"
        for i in range(4)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_transform(
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> ''),
                   tk -> {ph}) AS th
        FROM documents WHERE text IS NOT NULL
    ), sh AS (
        SELECT doc_id,
               unnest([((th[i] * 131 + th[i + 1]) % {mod} * 131 + th[i + 2])
                       % {mod}
                       FOR i IN generate_series(1, len(th) - 2)]) AS h
        FROM toks WHERE len(th) >= 3
    ), votes AS (
        SELECT doc_id, i,
               SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM sh CROSS JOIN generate_series(0, 39) AS g(i)
        GROUP BY doc_id, i
    ), sig AS (
        SELECT doc_id,
               SUM(CASE WHEN v >= 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS s
        FROM votes GROUP BY doc_id
    ), cand AS (
{cands}
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.s, sb.s)) AS INT) AS hamming
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.id_a
    JOIN sig sb ON sb.doc_id = cand.id_b
    WHERE bit_count(xor(sa.s, sb.s)) <= {max_hamming}
    """


@register("q_dedup_simhash", oracle=_simhash_oracle_sql(max_hamming=8))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (banded candidates + Hamming ≤ 8).

    SQL-oracle-checked since round 6 (previously rows-only): the
    registered key runs ``simhash_portable_pairs`` — 40-bit signatures
    over Rabin-Karp poly-hash shingle folds instead of xxhash64 — which
    DuckDB replays bit-for-bit (``_simhash_oracle_sql``; same upgrade
    path as q_dedup_minhash this round and q_text_fingerprint in r5). It
    is the engine's only SimHash; its Hamming invariants are
    property-tested."""
    t = load_tables(spark, sf_dir)
    return dedup.simhash_portable_pairs(t["documents"], max_hamming=8)


@register(
    "q_dedup_ngram",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        FROM documents WHERE lang = 'fr'
    ),
    sh AS (
        SELECT DISTINCT doc_id, unnest(
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             FOR i IN generate_series(1, len(t) - 2)]
        ) AS s
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.015
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard pairs (shared-shingle blocking), French
    slice. Threshold 0.015 is tuned so the answer set is non-empty at the
    driver's sf0.01 gate scale, where the fr slice has no true near-dups
    (max pairwise Jaccard ~0.021 there); at sf0.1 the slice also contains
    genuine near-dups (up to Jaccard 1.0) and the same exact pipeline
    surfaces both. Near-dup DEDUP at a production threshold is the
    curation pipeline's job (pipelines.curate_corpus, threshold 0.5) —
    this key demonstrates the blocking join + ratio filter exactly."""
    t = load_tables(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        t["documents"].filter(F.col("lang") == "fr"), n=3, threshold=0.015
    )


@register(
    "q_dedup_embed",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 8) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates via triangle-inequality cell
    blocking — EXACT (provably the same answer set as the all-pairs oracle,
    see operators.dedup.embedding_cosine_dups_blocked) but with no BNLJ:
    cell stats + a broadcast cell-pair table + one cogroup verify that
    scores each surviving cell pair as a BLAS matmul under the oracle's
    filter semantics (cosines within ~1e-15 of the oracle's, far inside the
    5e-3 threshold margin and the ROUND(8) output).
    The 0.45 cut is tuned to this corpus (uniform-ish embeddings, max
    pairwise cosine ~0.51) so the operator returns a non-empty exact answer
    set; probabilistic LSH banding at such a low threshold would degenerate,
    which is why the blocking here is metric (centroid+radius pruning with a
    recall PROOF) rather than probabilistic."""
    t = load_tables(spark, sf_dir)
    pairs = dedup.embedding_cosine_dups_blocked(t["embeddings"], threshold=0.45)
    return pairs.select("id_a", "id_b", F.round("cos", 8).alias("cos"))


# ---------------------------------------------------------------------------
# Similarity search (#70, #71)
# ---------------------------------------------------------------------------


def _query_vec(t: dict[str, DataFrame]) -> DataFrame:
    return (
        t["embeddings"]
        .filter(F.col("vec_id") == 0)
        .select(F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec"))
    )


@register(
    "q_sim_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT 0 AS query_id, vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        CAST(qv AS DOUBLE[])), 8) AS cos
    FROM embeddings, q
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(qv AS DOUBLE[])) DESC, vec_id
    LIMIT 5
    """,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#70 Exact cosine top-5 for a probe vector — the brute-force baseline
    (zip_with/aggregate dot product, broadcast probe, TakeOrdered)."""
    t = load_tables(spark, sf_dir)
    out = similarity.cosine_topk(t["embeddings"], _query_vec(t), k=5)
    return out.select("query_id", "vec_id", F.round("cos", 8).alias("cos"))


@register(
    "q_sim_cosine_topk_batched",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT 0 AS query_id, vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                        CAST(qv AS DOUBLE[])), 8) AS cos
    FROM embeddings, q
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                    CAST(qv AS DOUBLE[])) DESC, vec_id
    LIMIT 5
    """,
)
def q_sim_cosine_topk_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#70 variant: exact cosine top-5 via Arrow-batched numpy matmul with
    per-partition partial top-k — the shape that wins once per-partition
    matmul work amortizes the Python worker tax (see operators.similarity).
    Same oracle as the HOF path: both compute the dot in float64, so the
    fold-order difference (matmul vs sequential aggregate) sits ~7 orders
    of magnitude inside the ROUND(8) serialization and the top-5 margins."""
    t = load_tables(spark, sf_dir)
    out = similarity.cosine_topk_batched(t["embeddings"], _query_vec(t), k=5)
    return out.select("query_id", "vec_id", F.round("cos", 8).alias("cos"))


def _ann_oracle_sql(k: int = 5) -> str:
    """DuckDB replay of operators.similarity.ann_portable_topk: per-table
    ±1-LCG hyperplane projections on the normalized vector, floor-bucketed;
    candidates share the query's bucket in any table; exact cosine ranks
    the candidates. Constants single-sourced from operators.similarity."""
    from .operators.similarity import (
        _ANN_BUCKET_LEN,
        _ANN_LCG_A,
        _ANN_LCG_B,
        _ANN_LCG_M,
        _ANN_TABLES,
    )

    def sgn(t: str) -> str:
        return (
            f"CASE WHEN (({_ANN_LCG_A} * ({t} * 1009 + i) + {_ANN_LCG_B})"
            f" % {_ANN_LCG_M} >> 16) & 1 = 1 THEN 1.0 ELSE -1.0 END"
        )

    def bucket(vec: str, t: int) -> str:
        return f"""CASE WHEN sqrt(list_sum(list_transform({vec}, x -> x * x))) = 0
             THEN NULL
             ELSE CAST(floor(
                 list_sum([{vec}[i] * {sgn(str(t))}
                           FOR i IN generate_series(1, len({vec}))])
                 / (sqrt(list_sum(list_transform({vec}, x -> x * x)))
                    * {_ANN_BUCKET_LEN})) AS BIGINT) END"""

    b_base = ",\n               ".join(
        f"{bucket('e', t)} AS b{t}" for t in range(_ANN_TABLES)
    )
    b_q = ",\n               ".join(
        f"{bucket('qv', t)} AS qb{t}" for t in range(_ANN_TABLES)
    )
    or_match = " OR ".join(f"pb.b{t} = pq.qb{t}" for t in range(_ANN_TABLES))
    return f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE embedding IS NOT NULL
    ), q AS MATERIALIZED (
        SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0
    ), pb AS MATERIALIZED (
        SELECT vec_id, e,
               {b_base}
        FROM base
    ), pq AS MATERIALIZED (
        SELECT qv,
               {b_q}
        FROM q
    )
    SELECT 0 AS query_id, vec_id,
           ROUND(list_sum([e[i] * qv[i] FOR i IN generate_series(1, len(e))])
                 / NULLIF(sqrt(list_sum(list_transform(e, x -> x * x)))
                    * sqrt(list_sum(list_transform(qv, x -> x * x))), 0), 8)
               AS cos_approx
    FROM pb, pq
    WHERE {or_match}
    ORDER BY list_sum([e[i] * qv[i] FOR i IN generate_series(1, len(e))])
             / NULLIF(sqrt(list_sum(list_transform(e, x -> x * x)))
                * sqrt(list_sum(list_transform(qv, x -> x * x))), 0) DESC,
             vec_id
    LIMIT {k}
    """


@register("q_sim_ann", oracle=_ann_oracle_sql(k=5))
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#71 ANN top-5 via quantized sign-projection LSH.

    SQL-oracle-checked since round 6 (previously rows-only): the
    registered key runs ``ann_portable_topk`` — deterministic ±1-LCG
    hyperplanes instead of MLlib's JVM-seeded gaussians, same table
    count/bucket length — which DuckDB replays projection-for-projection
    (``_ann_oracle_sql``). It is the engine's only ANN; recall vs exact
    top-k is property-tested.
    Soundness (floor-bucket margins, rank gaps vs drift) is probed by
    scripts/margin_probe.py."""
    t = load_tables(spark, sf_dir)
    return similarity.ann_portable_topk(t["embeddings"], _query_vec(t), k=5)


def _pca_power_cte_sql(k: int = 8, n_iter: int = 20) -> str:
    """DuckDB replay of operators.similarity.pca_power_reduce: population
    covariance of the non-NULL max-width embeddings, then ``k`` deflated
    power-iteration components (basis-vector inits, fixed ``n_iter`` steps,
    zero-norm guard keeps the previous vector, Rayleigh-quotient deflation),
    λ̂-sorted — ending in CTEs ``x``/``cell``/``mu`` and ``comps(c, i, val)``.

    Sound for the same reason the Lloyd CTE is (scripts/margin_probe.py):
    both engines run the IDENTICAL deterministic iteration, so outputs agree
    to summation-order drift (~2e-15 measured end-to-end), while the 6-dp
    fixed-point boundary margins (≥1.7e-10) and the λ̂-sort gaps (≥3e-5) are
    orders of magnitude wider. No sign convention is needed — sign flips are
    a cross-SOLVER artifact, and there is only one solver here. Every CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, and an inlined iteration
    chain re-expands exponentially (the un-materialized form exhausted file
    handles re-opening the parquet per reference). Dimensionality comes from
    the data (``dims``), never a hardcoded range (r05 advice on the Lloyd
    CTE); precondition d ≥ k (the probe asserts it).

    r09: the per-iteration CTE pair (w, v — 2·k·n_iter MATERIALIZED CTEs,
    ~340 at the registered config) is collapsed into ONE recursive CTE per
    component: DuckDB's planning/materialization overhead scaled with CTE
    count and dominated the key's gate cost (measured 3.1 s of the 5.7 s
    total at sf0.01; 0.38 s at n_iter=5). Two semantics notes, both
    verified by a 3-scale A/B (old vs new SQL → IDENTICAL 6-dp output at
    sf0.001/0.01/0.1): (a) a recursive CTE's column types come from the
    ANCHOR query, so the basis-vector init casts to DOUBLE explicitly —
    DECIMAL(2,1) literals would truncate every iteration's values; (b) the
    standard allows only ONE reference to the recursive table per step, so
    the zero-norm fallback (previous vector's value at i) is smuggled
    through the same join as ``sum(CASE WHEN c.j = c.i THEN t.val END)``
    (cov is a dense d×d matrix, so the i=j row always exists), and the
    norm is a window sum over the step's w rows instead of a scalar
    subquery (summation-order drift ~1e-16, inside the probed headroom)."""
    parts = [
        """x AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
), cell AS MATERIALIZED (
    SELECT vec_id, generate_subscripts(e, 1) AS i, unnest(e) AS val FROM x
), dims AS MATERIALIZED (
    SELECT DISTINCT i FROM cell
), mu AS MATERIALIZED (
    SELECT i, avg(val) AS m FROM cell GROUP BY i
), cov0 AS MATERIALIZED (
    SELECT g.i, g.j, g.v - ma.m * mb.m AS v
    FROM (SELECT a.i, b.i AS j, avg(a.val * b.val) AS v
          FROM cell a JOIN cell b USING (vec_id) GROUP BY a.i, b.i) g
    JOIN mu ma ON ma.i = g.i JOIN mu mb ON mb.i = g.j
)"""
    ]
    prev_c = "cov0"
    lam_rows = []
    for comp in range(k):
        v = f"vfin{comp}"
        parts.append(f"""{v} AS MATERIALIZED (
    WITH RECURSIVE pit(n, i, val) AS (
        SELECT 0, i,
               CAST(CASE WHEN i = {comp + 1} THEN 1.0 ELSE 0.0 END AS DOUBLE)
        FROM dims
        UNION ALL
        SELECT n + 1, i,
               CASE WHEN nrm = 0 THEN pval ELSE wval / nrm END
        FROM (
            SELECT s.n, s.i, s.wval, s.pval,
                   sqrt(sum(s.wval * s.wval) OVER (PARTITION BY s.n)) AS nrm
            FROM (
                SELECT t.n, c.i,
                       sum(c.v * t.val) AS wval,
                       sum(CASE WHEN c.j = c.i THEN t.val ELSE 0 END) AS pval
                FROM {prev_c} c JOIN pit t ON t.i = c.j
                WHERE t.n < {n_iter}
                GROUP BY t.n, c.i
            ) s
        )
    )
    SELECT i, val FROM pit WHERE n = {n_iter}
)""")
        parts.append(f"""lam{comp} AS MATERIALIZED (
    SELECT sum(w.val * p.val) AS lam
    FROM (SELECT c.i, sum(c.v * p2.val) AS val
          FROM {prev_c} c JOIN {v} p2 ON p2.i = c.j GROUP BY c.i) w
    JOIN {v} p ON p.i = w.i
)""")
        lam_rows.append((comp, v))
        if comp < k - 1:
            nxt = f"cov{comp + 1}"
            parts.append(f"""{nxt} AS MATERIALIZED (
    SELECT c.i, c.j, c.v - l.lam * a.val * b.val AS v
    FROM {prev_c} c
    JOIN {v} a ON a.i = c.i
    JOIN {v} b ON b.i = c.j
    CROSS JOIN lam{comp} l
)""")
            prev_c = nxt
    union = "\nUNION ALL\n".join(
        f"    SELECT {c} AS comp, l.lam, v.i, v.val FROM {vn} v CROSS JOIN lam{c} l"
        for c, vn in lam_rows
    )
    parts.append(f"""comps AS MATERIALIZED (
    SELECT dense_rank() OVER (ORDER BY lam DESC, comp) - 1 AS c, i, val
    FROM (
{union}
    )
)""")
    return "WITH RECURSIVE " + ",\n".join(parts)


@register(
    "q_emb_pca",
    oracle=_pca_power_cte_sql(k=8, n_iter=20)
    + """
, proj AS (
    SELECT cl.vec_id, cp.c, sum((cl.val - mu.m) * cp.val) AS p
    FROM cell cl
    JOIN mu ON mu.i = cl.i
    JOIN comps cp ON cp.i = cl.i
    GROUP BY cl.vec_id, cp.c
)
SELECT vec_id,
       string_agg(CAST(CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS VARCHAR),
                  '|' ORDER BY c) AS reduced
FROM proj GROUP BY vec_id
""",
)
def q_emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-style reduction of the 64-dim embeddings to 8 dims.

    SQL-oracle-checked since round 6 (previously rows-only): the registered
    key now runs ``pca_power_reduce`` — a 20-step deflated power iteration
    that is a pure deterministic function of the data, replayed
    CTE-for-CTE by the oracle (``_pca_power_cte_sql``; same upgrade path
    as q_text_fingerprint's xxhash64→poly_hash and q_emb_kmeans' Lloyd
    CTE in round 5). It is the engine's only PCA. Decreasing projected
    variance holds by construction (components are λ̂-sorted; the
    projected variance of a unit direction IS its Rayleigh quotient) and
    stays property-tested in tests/test_llm_ops.py; numeric soundness of
    the oracle (fixed-point margins vs cross-engine drift, λ̂-sort gaps) is
    probed by scripts/margin_probe.py.

    ``reduced`` is serialized to a fixed-point '|'-joined string at the
    query boundary (driver's canonicalizer can't sort ndarray cells — the
    q_multimodal r03 failure class). ``pca_power_reduce`` itself keeps
    the typed array contract."""
    t = load_tables(spark, sf_dir)
    reduced = similarity.pca_power_reduce(t["embeddings"], k=8, n_iter=20)
    return reduced.select(
        "vec_id",
        fixed_point_join("reduced").alias("reduced"),
    )


# ---------------------------------------------------------------------------
# Text analysis (#72–#74 + lang-id / quality / fingerprint)
# ---------------------------------------------------------------------------


@register(
    "q_text_tokens",
    oracle=r"""
    SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents WHERE lang = 'en'
    )
    GROUP BY token
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#72 Tokenize + corpus term/document frequencies (explode → groupBy —
    the partial-aggregating map-side-combine shape)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .filter(F.col("lang") == "en")
        .select("doc_id", F.explode(text.ws_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
    )


@register(
    "q_text_tfidf",
    oracle=r"""
    WITH tokens AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents WHERE lang = 'es'
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tokens)
    SELECT tf.doc_id, tf.token,
           ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 8) AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#73 Relational TF-IDF (tf × ln(N/df)) — joins + aggregates only, no
    ml dependency, so it scales like any aggregation pipeline."""
    t = load_tables(spark, sf_dir)
    tokens = (
        t["documents"]
        .filter(F.col("lang") == "es")
        .select("doc_id", F.explode(text.ws_tokens("text")).alias("token"))
    )
    tf = tokens.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tokens.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = tokens.select("doc_id").distinct().count()
    return (
        tf.join(df, "token")
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.lit(float(n)) / F.col("df")), 8
            ).alias("tfidf"),
        )
    )


@register(
    "q_text_stats",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           n_chars AS n_chars_declared,
           length(text) = n_chars AS length_consistent,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_words,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(regexp_split_to_array(text, '\s+')), 8) AS avg_word_len
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#74 Corpus stats per doc, cross-validating the declared n_chars."""
    t = load_tables(spark, sf_dir)
    toks = text.ws_tokens("text")
    return t["documents"].select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_measured"),
        F.col("n_chars").alias("n_chars_declared"),
        (F.length("text").cast("long") == F.col("n_chars")).alias("length_consistent"),
        F.size(toks).cast("long").alias("n_words"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(toks), 8
        ).alias("avg_word_len"),
    )


@register(
    "q_text_quality",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_words,
           ROUND(CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
                 AS DOUBLE) / length(text), 8) AS punct_ratio,
           ROUND(CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                     t -> t IN ('the','of','and','to','in','is','that','for')))
                 AS DOUBLE) / len(regexp_split_to_array(text, '\s+')), 8) AS stopword_ratio
    FROM documents WHERE lang = 'en'
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features: punctuation + English-stopword ratios
    (threshold-filter inputs for corpus cleaning).

    Round-4 outcome-audit fix: the inline n_punct formula (re-derived here
    instead of reusing text.quality_features) had dropped the caret from
    ``[^\\w\\s]`` — BOTH the Spark plan and its oracle computed
    1 - punct_ratio, so the cross-engine hash matched while every ratio
    read 1.0 on this punctuation-free corpus. An oracle proves
    Spark==DuckDB; only reading the ANSWER catches an agreeing-but-wrong
    formula."""
    t = load_tables(spark, sf_dir)
    toks = text.ws_tokens("text")
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[^\w\s]", ""))
    n_stop = F.size(F.filter(toks, lambda tk: tk.isin(*text.STOPWORDS["en"])))
    return (
        t["documents"]
        .filter(F.col("lang") == "en")
        .select(
            "doc_id",
            n_chars.cast("long").alias("n_chars"),
            F.size(toks).cast("long").alias("n_words"),
            F.round(n_punct.cast("double") / n_chars, 8).alias("punct_ratio"),
            F.round(n_stop.cast("double") / F.size(toks), 8).alias("stopword_ratio"),
        )
    )


def _stopword_values_sql() -> str:
    """The operator's stopword lists as a SQL VALUES table (lang, w)."""
    from .operators.text import STOPWORDS

    rows = [
        f"('{lang}', '{w}')"
        for lang in sorted(STOPWORDS)
        for w in STOPWORDS[lang]
    ]
    return ", ".join(rows)


@register(
    "q_text_langid",
    oracle=rf"""
    WITH stop(lang_cand, w) AS (VALUES {_stopword_values_sql()}),
    toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
    ),
    hits AS (
        SELECT t.doc_id, s.lang_cand, COUNT(*) AS score
        FROM toks t JOIN stop s ON t.w = s.w
        GROUP BY t.doc_id, s.lang_cand
    ),
    best AS (
        SELECT doc_id, lang_cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang_cand DESC) AS rn
        FROM hits
    )
    SELECT d.doc_id, d.lang, COALESCE(b.lang_cand, 'und') AS lang_pred
    FROM documents d
    LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit argmax over per-language lists).

    The argmax tie-break is total and engine-independent: the struct
    array_max picks the highest hit count, ties broken by the
    lexicographically greatest language code — which the oracle mirrors
    with ORDER BY (score DESC, lang DESC). Zero hits across every list →
    'und' (the oracle's LEFT JOIN + COALESCE). One codegen'd scan, no
    shuffle: the scoring is per-row array arithmetic against broadcast-
    literal word lists, which is what language-tagging a 100 TB corpus
    needs (the real fastText model swaps in via the same mapInPandas shape
    as the multimodal ops)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", "lang", text.language_id("text").alias("lang_pred")
    )


@register(
    "q_text_fingerprint",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, text, regexp_split_to_array(text, '\s+') AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN []
                    ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          FOR i IN generate_series(1, len(t) - 2)] END AS shingles
        FROM toks
    ), hashed AS (
        SELECT doc_id,
               list_transform(shingles, s ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(s, ''),
                                      c -> CAST(unicode(c) AS BIGINT))),
                       (a, x) -> (a * 131 + x) % 1099511627776)) AS hs
        FROM sh
    )
    SELECT t.doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(t.text, ''),
                              c -> CAST(unicode(c) AS BIGINT))),
               (a, x) -> (a * 131 + x) % 1099511627776) AS text_hash,
           list_min(h.hs) AS min_shingle_hash,
           list_max(h.hs) AS max_shingle_hash
    FROM toks t JOIN hashed h USING (doc_id)
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: polynomial rolling hash of the full text plus
    min/max over the shingle-hash stream (1-permutation MinHash).

    SQL-oracle-checked since round 5: the round-4 version hashed with
    ``xxhash64`` (JVM-only, no DuckDB twin → rows-only); the registered key
    now uses the engine-neutral Rabin-Karp fold (operators.text.poly_hash),
    which DuckDB replays character-for-character."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", "text", text.ws_tokens("text").alias("toks")
    )
    hs = F.transform(text.shingles("toks", 3), lambda s: text.poly_hash(s))
    return docs.select(
        "doc_id",
        text.poly_hash("text").alias("text_hash"),
        F.array_min(hs).alias("min_shingle_hash"),
        F.array_max(hs).alias("max_shingle_hash"),
    )


# ---------------------------------------------------------------------------
# Embedding math (#76) + multimodal (#75)
# ---------------------------------------------------------------------------


@register(
    "q_emb_norm",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 8) AS l2,
           array_to_string(list_transform(embedding,
                 x -> CAST(CAST(floor(CAST(x AS DOUBLE)
                      / sqrt(list_sum(list_transform(embedding,
                            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                      * 1000000 + 0.5) AS BIGINT) AS VARCHAR)), '|') AS unit_vec
    FROM embeddings
    """,
)
def q_emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#76 L2 norms + unit vectors via array HOFs — stays columnar/codegen,
    no UDF, which is what makes 100 TB embedding normalization a plain scan.
    The unit vector is serialized to a fixed-point string at the comparison
    boundary (driver's hasher can't sort ndarray cells); the l2_normalize
    HOF underneath is unchanged."""
    from .functions.vector import l2_norm, l2_normalize

    t = load_tables(spark, sf_dir)
    return t["embeddings"].select(
        "vec_id",
        F.round(l2_norm("embedding"), 8).alias("l2"),
        fixed_point_join(l2_normalize("embedding")).alias("unit_vec"),
    )


#: Committed expected-output fixtures for the multimodal keys (round 7).
#: Regenerated by ``scripts/regen_multimodal_expected.py`` whenever the
#: testdata or the kernels change: each row is the agreed output of TWO
#: implementations (the Spark mapInPandas pipeline and a pure-Python
#: replay), keyed by (doc_id, md5(text)) so the oracle joins only the rows
#: belonging to whatever sf_dir the gate is running — generated for
#: sf0.001/sf0.01/sf0.1, deduped by content key.
_MM_FEATURES_FIXTURE = str(FIXTURES_DIR / "multimodal_expected_features.ndjson")
_MM_RESIZE_FIXTURE = str(FIXTURES_DIR / "multimodal_expected_resize.ndjson")
_MM_FRAMES_FIXTURE = str(FIXTURES_DIR / "multimodal_expected_frames.ndjson")
_MM_AUDIO_FIXTURE = str(FIXTURES_DIR / "multimodal_expected_audio.ndjson")


@register(
    "q_multimodal",
    oracle=f"""
    -- Fixture-derived oracle (r06 verdict item 1): expected rows are the
    -- committed agreed output of two independent replays of the decode
    -- pipeline; the JOIN re-derives width/height/checksum from the
    -- documents table ITSELF (payload dims are pure functions of the text
    -- byte length), so a stale fixture or drifted testdata drops rows and
    -- fails the count check instead of silently passing.
    SELECT e.doc_id, e.media_type, e.n_bytes, e.checksum,
           e.width, e.height, e.feat
    FROM read_json('{_MM_FEATURES_FIXTURE}', format='newline_delimited',
                   columns={{'doc_id': 'BIGINT', 'media_type': 'VARCHAR',
                             'n_bytes': 'BIGINT', 'checksum': 'BIGINT',
                             'width': 'INTEGER', 'height': 'INTEGER',
                             'feat': 'VARCHAR', 'text_md5': 'VARCHAR'}}) e
    JOIN documents d
      ON e.doc_id = d.doc_id
     AND e.text_md5 = md5(d.text)
     AND e.width  = 4 + (greatest(octet_length(encode(d.text)), 1) % 13)
     AND e.height = 3 + (greatest(octet_length(encode(d.text)), 1) % 7)
     AND e.checksum = e.width
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#75 Multimodal plumbing: binary payload + metadata struct →
    Arrow-batched decode/feature-extract via mapInPandas (decode kernel
    dispatches stdlib PNG codec → baseline JPEG codec → deterministic
    stub; see operators.multimodal). SQL-oracle-checked since round 7: the committed
    expected-output fixture (see ``_MM_FEATURES_FIXTURE``) carries the
    agreed rows of two independent replays of the deterministic
    text→PNG→decode→luma pipeline, and the oracle's JOIN independently
    re-derives the dimension/checksum columns from the documents table in
    SQL (tests/test_multimodal_oracle.py additionally recomputes the luma
    signatures byte-by-byte inside DuckDB).

    The ``feat array<float>`` column is serialized to a fixed-point
    ``'|'``-joined string AT THE QUERY BOUNDARY (same pattern as
    q_emb_norm's unit_vec): the driver's canonicalizer sorts the whole
    result frame with pandas ``sort_values`` and ndarray cells crash it —
    the r03 gate red. Library users call ``extract_features`` directly and
    keep the typed array contract; only the registered comparison surface
    flattens it.

    Since round 5 the registered fixture is :func:`attach_png_payload` —
    REAL PNG bytes — so the gate exercises the stdlib decode tier
    end-to-end, not the stub (row-count
    contract unchanged: one feature row per document). Decode parallelism
    is partition count, so the single-file documents table is repartitioned
    before the Python kernels — to a volume-derived count
    (operators.multimodal.decode_partitions, r10): full core fan-out of a
    tiny corpus pays more per-task fixed cost than decode (0.91 s at 32
    partitions vs 0.64 s at 8, sf0.1), while big inputs keep the full
    core count."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].repartition(
        multimodal.decode_partitions(spark, f"{sf_dir}/documents.parquet")
    )
    media = multimodal.attach_png_payload(docs)
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "checksum",
        "width",
        "height",
        fixed_point_join("feat").alias("feat"),
    )


@register(
    "q_multimodal_resize",
    oracle=f"""
    -- Golden expected-output oracle (r06 verdict item 1): the resized
    -- payload is a pure function of the text bytes (decode unfilters, so
    -- the doc_id-cycled scanline filter washes out; re-encode is filter 0),
    -- committed as sha256 + byte count, keyed by (doc_id, md5(text)) so
    -- drifted testdata drops rows instead of silently passing.
    SELECT e.doc_id, e.width, e.height, e.n_bytes, e.payload_sha
    FROM read_json('{_MM_RESIZE_FIXTURE}', format='newline_delimited',
                   columns={{'doc_id': 'BIGINT', 'width': 'INTEGER',
                             'height': 'INTEGER', 'n_bytes': 'BIGINT',
                             'payload_sha': 'VARCHAR',
                             'text_md5': 'VARCHAR'}}) e
    JOIN documents d
      ON e.doc_id = d.doc_id AND e.text_md5 = md5(d.text)
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#75 resize stage: binary in → binary out at 224×224. PNG fixtures
    since round 5: the stdlib tier genuinely decodes, nearest-neighbor
    resamples, and re-encodes every payload. SQL-oracle-checked since
    round 7: the registered surface hashes the output payload (sha256 hex —
    raw binary cells would crash the driver's canonicalizer exactly like
    the r03 ndarray red) and compares against the committed golden fixture;
    library users call ``resize_media`` directly for the binary contract
    (tests/test_llm_ops.py keeps the decode-parses-as-224×224-PNG check on
    that path)."""
    t = load_tables(spark, sf_dir)
    # work_factor=4: resize decodes, resamples AND re-encodes (the only
    # kernel that pays a second full encode), so it saturates compute at
    # ~4x the fan-out of the decode-only kernels (measured: at sf0.1 the
    # decode-only keys plateau at ~10 partitions while resize still wants
    # the full core count — 0.94 s at 32 vs 1.06 s at 10).
    docs = t["documents"].repartition(
        multimodal.decode_partitions(
            spark, f"{sf_dir}/documents.parquet", work_factor=4.0
        )
    )
    media = multimodal.attach_png_payload(docs)
    out = multimodal.resize_media(media, 224, 224)
    return out.select(
        "doc_id",
        "width",
        "height",
        "n_bytes",
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    )


@register(
    "q_multimodal_frames",
    oracle=f"""
    -- Golden expected-output oracle (r06 verdict item 1): frames are
    -- deterministic payload slices (the stub tier — no ffmpeg binding in
    -- any test environment), so expected sha256/byte-count per frame_idx
    -- is committed, keyed by (doc_id, md5(text)).
    SELECT e.doc_id, e.frame_idx, e.frame_bytes, e.frame_sha
    FROM read_json('{_MM_FRAMES_FIXTURE}', format='newline_delimited',
                   columns={{'doc_id': 'BIGINT', 'frame_idx': 'INTEGER',
                             'frame_bytes': 'BIGINT',
                             'frame_sha': 'VARCHAR',
                             'text_md5': 'VARCHAR'}}) e
    JOIN documents d
      ON e.doc_id = d.doc_id AND e.text_md5 = md5(d.text)
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#75 frame sampling: one payload row → 4 evenly-spaced frame rows
    (one-to-many mapInPandas fan-out, executor-side). PNG fixtures since
    round 5 (the frame kernel itself still stub-slices — video decode
    genuinely requires an ffmpeg binding, absent here). SQL-oracle-checked
    since round 7 via the committed golden fixture; the registered surface
    hashes each frame (sha256 hex) for the same canonicalizer-safety
    reason as q_multimodal_resize."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].repartition(
        multimodal.decode_partitions(spark, f"{sf_dir}/documents.parquet")
    )
    media = multimodal.attach_png_payload(docs)
    frames = multimodal.sample_frames(media, n_frames=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        "frame_bytes",
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


@register(
    "q_multimodal_audio",
    oracle=f"""
    -- Fixture-derived oracle (r07; same dual-implementation discipline as
    -- q_multimodal): expected rows are the agreed output of the pure-Python
    -- replay and the Spark kernels. The JOIN re-derives n_samples,
    -- sample_rate, and duration_ms from the documents table ITSELF (all
    -- pure integer functions of byte length / doc_id — wav_codec.
    -- synth_params), so a stale fixture or drifted testdata drops rows and
    -- fails the count check. energy/zero_crossings/peak are exact-integer
    -- sums carried by the fixture (no float surface anywhere).
    SELECT e.doc_id, e.media_type, e.n_bytes, e.sample_rate, e.n_samples,
           e.duration_ms, e.energy, e.zero_crossings, e.peak
    FROM read_json('{_MM_AUDIO_FIXTURE}', format='newline_delimited',
                   columns={{'doc_id': 'BIGINT', 'media_type': 'VARCHAR',
                             'n_bytes': 'BIGINT', 'sample_rate': 'INTEGER',
                             'n_samples': 'INTEGER', 'duration_ms': 'BIGINT',
                             'energy': 'BIGINT',
                             'zero_crossings': 'INTEGER', 'peak': 'INTEGER',
                             'text_md5': 'VARCHAR'}}) e
    JOIN documents d
      ON e.doc_id = d.doc_id
     AND e.text_md5 = md5(d.text)
     AND e.n_samples = 128 + (greatest(octet_length(encode(d.text)), 1) % 241)
     AND e.sample_rate = CASE d.doc_id % 3 WHEN 0 THEN 8000
                                           WHEN 1 THEN 12000
                                           ELSE 16000 END
     AND e.duration_ms = (e.n_samples * 1000) // e.sample_rate
    WHERE d.text IS NOT NULL
    """,
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#75 multimodal, audio tier (round 7): REAL RIFF/WAVE payloads
    (stdlib ``wave`` writer, PCM16 mono, deterministic per-doc waveform)
    → Arrow-batched decode (``wav_codec.decode_wav``: RIFF chunk walk +
    struct PCM unpack) → ALL-INTEGER features (energy = Σs², zero
    crossings, peak, exact duration). WAV is the one first-class
    training-audio format that decodes with ``struct`` alone, so — unlike video, where the stub tier is
    honest about the missing ffmpeg binding — the audio path executes a
    genuine decode in this dependency-less container
    (operators/wav_codec.py, operators/multimodal.py
    extract_audio_features). Oracle: committed dual-implementation golden
    fixture with the synthesis parameters re-derived in SQL (see the
    registration comment); tests/test_multimodal_oracle.py recomputes the
    signatures from the parquet text with an independent numpy
    implementation. Integer-only features mean the comparison has zero
    float-drift surface — no fixed-point serialization needed."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].repartition(
        multimodal.decode_partitions(spark, f"{sf_dir}/documents.parquet")
    )
    media = multimodal.attach_wav_payload(docs)
    return multimodal.extract_audio_features(media)


# ---------------------------------------------------------------------------
# Corpus curation: reproducible sampling / capping / distribution analysis
# ---------------------------------------------------------------------------


@register(
    "q_sample_hash",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 % 10 = 3
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: a ~10% slice whose membership is a pure
    function of the id (Knuth multiplicative hash, identical arithmetic on
    both engines). The scale-correct way to cut training-data slices:
    reproducible across runs, engines, partitionings, and re-extractions —
    unlike rng ``sample()``, whose output depends on partition layout."""
    t = load_tables(spark, sf_dir)
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % F.lit(10)
    return t["documents"].filter(bucket == 3).select("doc_id", "lang", "source")


@register(
    "q_cap_per_source",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: keep the 10 longest docs per source — the standard
    domain-balancing primitive (no single crawl may dominate the corpus).
    Plans as WindowGroupLimit: each partition keeps ≤10 rows before the
    shuffle, so the cap costs k·|sources| shuffle rows at any corpus size."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        t["documents"].select("doc_id", "source", "n_chars")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .drop("__rn")
    )


@register(
    "q_hist_tokens",
    oracle=r"""
    SELECT CAST(floor(len(regexp_split_to_array(text, '\s+')) / 10) * 10 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           CAST(MIN(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS min_words,
           CAST(MAX(len(regexp_split_to_array(text, '\s+'))) AS BIGINT) AS max_words
    FROM documents
    GROUP BY 1
    """,
)
def q_hist_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (10-wide buckets) — the distribution check run
    before/after every filtering stage to catch curation regressions. One
    scan + one tiny agg; bucket arithmetic stays in codegen."""
    t = load_tables(spark, sf_dir)
    n_words = F.size(text.ws_tokens("text")).cast("long")
    return (
        t["documents"]
        .select((F.floor(n_words / 10) * 10).cast("long").alias("bucket_lo"),
                n_words.alias("nw"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("nw").alias("min_words"),
             F.max("nw").alias("max_words"))
    )


@register(
    "q_text_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_tokens,
           CAST(len(list_filter(
                    regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'),
                    t -> regexp_matches(t, '^[A-Za-z]+$')))
                AS BIGINT) AS n_word_tokens
    FROM documents
    """,
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#72 variant: BPE-ish pre-tokenization counts (letter runs / digit
    runs / single punctuation — the segmentation a BPE tokenizer refines).
    Stays in codegen via regexp_extract_all; the token-budget estimator for
    corpus planning."""
    t = load_tables(spark, sf_dir)
    toks = text.bpe_ish_tokens("text")
    return t["documents"].select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda tk: tk.rlike("^[A-Za-z]+$")))
         .cast("long").alias("n_word_tokens"),
    )


@register(
    "q_dedup_clusters",
    oracle=r"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, unnest(
                [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                 FOR i IN generate_series(1, len(t) - 2)]
            ) AS s
            FROM toks
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.015
    ), edges AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ), l1 AS MATERIALIZED (
        -- One-hop min-label contraction (r10): each node takes
        -- min(self, direct neighbors). Near-dup clusters are dense (at
        -- sf0.1 the whole 5000-doc corpus is ONE component), so the naive
        -- all-labels closure materializes O(m^2) reach rows (25M, ~320s);
        -- contracting first collapses 5000 nodes to ~566 labels and the
        -- same closure runs in ~1s. Provably exact: contraction never
        -- merges distinct components (labels are component members) and
        -- the closure still finds each contracted component's min.
        SELECT n.doc_id AS node,
               LEAST(n.doc_id, COALESCE(MIN(e.b), n.doc_id)) AS lbl
        FROM documents n LEFT JOIN edges e ON e.a = n.doc_id
        GROUP BY n.doc_id
    ), ce AS MATERIALIZED (
        SELECT DISTINCT la.lbl AS a, lb.lbl AS b
        FROM edges e
        JOIN l1 la ON la.node = e.a
        JOIN l1 lb ON lb.node = e.b
        WHERE la.lbl <> lb.lbl
    ), reach(node, lbl) AS (
        -- lbl < node prune: the component min is smaller than every other
        -- member, so it still reaches all of them; larger labels can never
        -- win MIN() and are dropped early.
        SELECT DISTINCT lbl, lbl FROM l1
        UNION
        SELECT ce.b, r.lbl FROM reach r JOIN ce ON ce.a = r.node
        WHERE r.lbl < ce.b
    ), comp0 AS (
        SELECT node, MIN(lbl) AS root FROM reach GROUP BY node
    ), comp AS (
        SELECT l1.node AS doc_id, c.root AS cluster_id
        FROM l1 JOIN comp0 c ON c.node = l1.lbl
    )
    SELECT c.doc_id, c.cluster_id,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
           c.doc_id = MIN(c.doc_id) OVER (PARTITION BY c.cluster_id) AS is_canonical
    FROM comp c
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup end game: corpus-wide n-gram Jaccard pairs (≥0.015) →
    connected components (iterative label propagation) → cluster id/size +
    canonical-survivor flag per doc (25 real pairs merge at sf0.01). Oracle =
    DuckDB recursive-CTE transitive closure over the identical pair set."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # Collapse-aware clustering: components over the distinct-text rep
    # graph, labels expanded to members — same answer as pairs→CC over
    # member-level pairs (differential-tested), but never quadratic in
    # exact-copy multiplicity (the member edge list OOM'd the 30×
    # duplication rehearsal).
    return dedup.ngram_dedup_clusters(docs, n=3, threshold=0.015)


@register(
    "q_mix_corpus",
    oracle=r"""
    WITH stats AS (
        SELECT source,
               CAST(SUM(len(regexp_split_to_array(text, '\s+'))) AS DOUBLE) AS src_tokens
        FROM documents GROUP BY source
    ), totals AS (
        SELECT CAST(SUM(src_tokens) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS n_src
        FROM stats
    )
    SELECT d.doc_id, d.source,
           CAST(len(regexp_split_to_array(d.text, '\s+')) AS BIGINT) AS n_tokens
    FROM documents d
    JOIN stats s ON s.source = d.source
    CROSS JOIN totals t
    WHERE CAST((d.doc_id * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0
          < least(1.0, (t.total * 0.5 / t.n_src) / s.src_tokens)
    """,
)
def q_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: rebalance sources toward a uniform
    per-source token budget (here: 50% of the corpus split evenly across
    sources). Each source keeps a deterministic hash slice sized
    ``min(1, budget_share / source_tokens)`` — over-represented sources are
    down-sampled, small sources kept whole. Membership is a pure function of
    doc_id (reproducible across engines/partitionings); the two aggregates
    are tiny (per-source) and broadcast back — no global window, no skewed
    single-partition stage."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    n_tokens = F.size(text.ws_tokens("text")).cast("long")
    stats = docs.groupBy("source").agg(
        F.sum(F.size(text.ws_tokens("text"))).cast("double").alias("src_tokens")
    )
    totals = stats.agg(
        F.sum("src_tokens").alias("total"),
        F.count(F.lit(1)).cast("double").alias("n_src"),
    )
    bucket = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    ).cast("double") / F.lit(4294967296.0)
    keep_frac = F.least(
        F.lit(1.0), (F.col("total") * 0.5 / F.col("n_src")) / F.col("src_tokens")
    )
    return (
        docs.join(F.broadcast(stats), "source")
        .crossJoin(F.broadcast(totals))
        .filter(bucket < keep_frac)
        .select("doc_id", "source", n_tokens.alias("n_tokens"))
    )


@register(
    "q_pack_sequences",
    oracle=r"""
    WITH RECURSIVE docs AS MATERIALIZED (
        SELECT doc_id, len(regexp_split_to_array(text, '\s+')) AS tok, doc_id % 8 AS b
        FROM documents
    ), r AS MATERIALIZED (
        -- MATERIALIZED (r10): DuckDB inlines CTEs per REFERENCE, and the
        -- recursive step below references r once per iteration — without
        -- the hint every one of the ~625 iterations re-tokenized all 5000
        -- documents (31.6 s at sf0.1; 0.6 s materialized, same rows).
        SELECT b, doc_id, tok,
               row_number() OVER (PARTITION BY b ORDER BY doc_id) AS rn
        FROM docs
    ), rec AS (
        SELECT b, rn, doc_id, tok, tok AS cur, 0 AS seq
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.b, r.rn, r.doc_id, r.tok,
               CASE WHEN rec.cur + r.tok <= 512
                    THEN rec.cur + r.tok ELSE r.tok END,
               CASE WHEN rec.cur + r.tok <= 512
                    THEN rec.seq ELSE rec.seq + 1 END
        FROM rec JOIN r ON r.b = rec.b AND r.rn = rec.rn + 1
    )
    SELECT CAST(b * 1000000 + seq AS BIGINT) AS seq_id,
           string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY rn) AS doc_ids,
           CAST(COUNT(*) AS INT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens
    FROM rec GROUP BY b, seq
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: greedy first-fit of docs into ≤512-token training
    rows, per deterministic ``doc_id % 8`` bucket in ascending-id order.

    SQL-oracle-checked since round 5: the round-4 version range-partitioned
    on sampled boundaries (layout-dependent, inexpressible in SQL); the
    bucket form is a pure function of the inputs, so DuckDB replays the
    exact greedy scan with a recursive CTE (running-capacity reset is the
    one packing step window functions cannot express).

    ``doc_ids`` is serialized to a '|'-joined string at the query boundary
    (driver's canonicalizer can't sort list cells — the q_multimodal r03
    failure class, caught by the strengthened local sweep). Library users
    call ``pack_sequences`` directly for the typed array."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", F.size(text.ws_tokens("text")).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(docs, max_tokens=512, parts=8)
    return packed.select(
        "seq_id",
        F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), "|")
        .alias("doc_ids"),
        "n_docs",
        "total_tokens",
    )


@register(
    "q_contamination",
    oracle=r"""
    WITH bench AS (
        SELECT doc_id AS bench_id, text FROM documents
        WHERE (doc_id * 2654435761) % 4294967296 % 50 = 7
    ), bench_sh AS (
        SELECT DISTINCT bench_id, unnest(
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             FOR i IN generate_series(1, len(t) - 2)]
        ) AS s
        FROM (SELECT bench_id, regexp_split_to_array(text, '\s+') AS t FROM bench)
    ), corpus_sh AS (
        SELECT DISTINCT doc_id, unnest(
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             FOR i IN generate_series(1, len(t) - 2)]
        ) AS s
        FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)
    )
    SELECT c.doc_id, b.bench_id, COUNT(*) AS shared_ngrams
    FROM corpus_sh c JOIN bench_sh b ON c.s = b.s
    WHERE c.doc_id != b.bench_id
    GROUP BY c.doc_id, b.bench_id
    HAVING COUNT(*) >= 5
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: flag corpus docs sharing ≥5 distinct
    word trigrams with any doc in a held-out 'benchmark' slice (a
    deterministic 2% hash sample stands in for the eval set). The join is
    shingle-blocked — corpus×bench pairs only materialize on shared
    n-grams, and the bench side is tiny so it is broadcast
    (operators/curation.contaminated_pairs, curate_corpus's scrub join).
    Trigrams join as xxhash64 keys where the oracle compares strings; a
    false shared trigram needs a 2^-64 collision."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    bench = docs.filter(
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 50 == 7
    ).select(F.col("doc_id").alias("bench_id"), "text")
    # the self-match filter is on group keys: applied after the count it
    # keeps the same rows as the oracle's pre-aggregate WHERE.
    return (
        contaminated_pairs(docs, bench, 5)
        .filter(F.col("doc_id") != F.col("bench_id"))
        .select("doc_id", "bench_id", F.col("shared").alias("shared_ngrams"))
    )


@register(
    "q_scrub_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text || ' reach me: user' || doc_id ||
                            '@mail.example or +1-555-01' || doc_id % 100,
                            '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             '\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{2,6}', '<PHONE>', 'g') AS scrubbed,
           length(text || ' reach me: user' || doc_id ||
                  '@mail.example or +1-555-01' || doc_id % 100) AS len_before
    FROM documents
    """,
)
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails and phone numbers (the
    corpus has none, so deterministic synthetic PII is appended per doc —
    the scrubber must then remove exactly what was planted). Pure
    regexp_replace: JVM-side, full scan speed, no UDF."""
    t = load_tables(spark, sf_dir)
    dirty = F.concat(
        F.col("text"), F.lit(" reach me: user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1-555-01"), (F.col("doc_id") % 100).cast("string"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(dirty, r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{2,6}", "<PHONE>",
    )
    return t["documents"].select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.length(dirty).cast("long").alias("len_before"),
    )


@register(
    "q_repetition_score",
    oracle=r"""
    WITH sh AS (
        SELECT doc_id, unnest(
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             FOR i IN generate_series(1, len(t) - 2)]
        ) AS s
        FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents)
    ), freq AS (
        SELECT doc_id, s, COUNT(*) AS c FROM sh GROUP BY doc_id, s
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_ngrams,
           CAST(MAX(c) AS BIGINT) AS top_ngram_count,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 8) AS repetition_ratio
    FROM freq
    GROUP BY doc_id
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate scoring: share of a doc's trigrams taken by
    its single most-repeated trigram (Gopher-style repetition filter input).
    High ratio → templated or spammy text."""
    t = load_tables(spark, sf_dir)
    toks = text.ws_tokens("text")
    sh = (
        t["documents"].select("doc_id", toks.alias("t"))
        .select("doc_id", F.explode(text.shingles("t", 3)).alias("s"))
    )
    freq = sh.groupBy("doc_id", "s").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.max("c").alias("top_ngram_count"),
        F.round(F.max("c").cast("double") / F.sum("c"), 8).alias("repetition_ratio"),
    )


@register(
    "q_chunk_docs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents
    )
    SELECT doc_id,
           CAST(u.i - 1 AS INT) AS chunk_idx,
           array_to_string(t[(u.i - 1) * 24 + 1 : (u.i - 1) * 24 + 32], ' ')
               AS chunk_text,
           CAST(len(t[(u.i - 1) * 24 + 1 : (u.i - 1) * 24 + 32]) AS BIGINT)
               AS n_tokens
    FROM toks, unnest(generate_series(1, GREATEST(CAST(ceil((len(t) - 8) / 24.0) AS BIGINT), 1))) AS u(i)
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: split each doc into 32-token windows with 8-token
    overlap (stride 24) — the upstream mate of sequence packing; long docs
    become bounded chunks before embedding/packing. Pure array HOFs
    (sequence → slice → concat_ws): one generator per doc inside the scan
    stage, no shuffle, no UDF."""
    t = load_tables(spark, sf_dir)
    WINDOW, STRIDE = 32, 24
    toks = text.ws_tokens("text")
    n_chunks = F.greatest(
        F.ceil((F.size(toks) - (WINDOW - STRIDE)) / F.lit(float(STRIDE))).cast("long"),
        F.lit(1).cast("long"),
    )
    return (
        t["documents"].select("doc_id", toks.alias("t"), n_chunks.alias("n"))
        .select(
            "doc_id", "t",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n"))).alias("i"),
        )
        .select(
            "doc_id",
            (F.col("i") - 1).cast("int").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("t"), (F.col("i") - 1) * STRIDE + 1, WINDOW)
            ).alias("chunk_text"),
            F.size(F.slice(F.col("t"), (F.col("i") - 1) * STRIDE + 1, WINDOW))
            .cast("long").alias("n_tokens"),
        )
    )


@register(
    "q_emb_quantize",
    oracle="""
    WITH scaled AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS e,
               GREATEST(list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                                x -> abs(x))), 1e-12) AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 8) AS scale,
           array_to_string(list_transform(
               list_transform(e, x -> CAST(round(x / scale * 127.0) AS BIGINT))[1:4],
               q -> CAST(q AS VARCHAR)), '|') AS q_head
    FROM scaled
    """,
)
def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 quantization: per-vector absmax scale, symmetric round
    to [-127,127], plus the reconstruction-error bound per vector — the 4×
    storage cut for a 100 TB embedding store. Array HOFs end-to-end (no
    UDF); q_head carries the first 4 quantized values. The reconstruction
    error bound (≤ 1/254 per unit) is asserted in tests — comparing a
    rounded float of a float across engines invites 1e-8 round-tie
    mismatches, so the bound stays out of the hash-compared output."""
    t = load_tables(spark, sf_dir)
    e = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-12)
    )
    # Bind the per-row scale once via array_repeat (see functions/vector.py:
    # referencing a projected O(d) expression inside a per-element lambda
    # makes interpreted HOF eval recompute it per element).
    q = F.zip_with(
        e,
        F.array_repeat(F.col("scale"), F.size(e)),
        lambda x, s: F.round(x / s * 127.0).cast("long"),
    )
    return (
        t["embeddings"]
        .withColumn("scale", scale)
        .select(
            "vec_id",
            F.round("scale", 8).alias("scale"),
            F.array_join(
                F.transform(F.slice(q, 1, 4), lambda v: v.cast("string")), "|"
            ).alias("q_head"),
        )
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 % 100 <
          CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 25 ELSE 50 END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep-fractions (10%
    of English, 25% of Chinese, 50% of the rest) — the corpus-rebalancing
    cut that up-weights low-resource strata. Same Knuth multiplicative hash
    as q_sample_hash, so membership is a pure function of (doc_id, lang):
    reproducible across engines and partitionings, and composable with the
    other curation slices (a doc's bucket never changes)."""
    t = load_tables(spark, sf_dir)
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % F.lit(100)
    keep_pct = (
        F.when(F.col("lang") == "en", F.lit(10))
        .when(F.col("lang") == "zh", F.lit(25))
        .otherwise(F.lit(50))
    )
    return t["documents"].filter(bucket < keep_pct).select("doc_id", "lang")


@register(
    "q_text_inverted_index",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents WHERE lang = 'en'
    )
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS tf,
           array_to_string(list_transform(list_sort(list(DISTINCT doc_id))[1:20],
               d -> CAST(d AS VARCHAR)), '|') AS postings
    FROM toks
    GROUP BY token
    HAVING COUNT(DISTINCT doc_id) >= 5
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the English slice: token → document frequency,
    total term frequency, and a capped sorted posting list. One explode +
    one shuffle on the token key; partial aggregation combines map-side, so
    the shuffle carries term statistics, not token occurrences. At 100 TB
    the posting cap (here 20, for a bounded result) becomes per-term
    sharding; the head-term skew answer is AQE skew splitting + the salted
    two-phase agg in operators/skew.py."""
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("lang") == "en")
    toks = docs.select("doc_id", F.explode(text.ws_tokens("text")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            F.array_join(
                F.transform(
                    F.slice(F.array_sort(F.collect_set("doc_id")), 1, 20),
                    lambda d: d.cast("string"),
                ),
                "|",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 5)
    )


@register(
    "q_dup_ngram_fraction",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        FROM documents WHERE lang = 'es'
    ),
    sh AS (
        SELECT DISTINCT doc_id, unnest(
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
             FOR i IN generate_series(1, len(t) - 4)]
        ) AS s
        FROM toks
    ),
    cnt AS (SELECT s, COUNT(DISTINCT doc_id) AS nd FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(CAST(SUM(CASE WHEN cnt.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 8) AS dup_frac
    FROM sh JOIN cnt USING (s)
    GROUP BY sh.doc_id
    """,
)
def q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram fraction per document (RefinedWeb/Gopher-style
    curation signal): the share of a doc's distinct word 5-grams that also
    occur in some other document. Plan: explode→distinct (shuffle on
    shingle), per-shingle doc counts via partial agg, join back on the same
    shingle key (co-partitioned — the second shuffle is reused), per-doc
    ratio. At 100 TB the shingle strings become xxhash64 fingerprints so
    the shuffle carries 8-byte keys; kept as strings here for exact oracle
    parity (Spanish slice bounds the result)."""
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("lang") == "es")
    tok = docs.select("doc_id", text.ws_tokens("text").alias("toks"))
    sh = tok.select(
        "doc_id", F.explode(text.shingles("toks", 5)).alias("s")
    ).distinct()
    cnt = sh.groupBy("s").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        sh.join(cnt, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
                / F.count(F.lit(1)),
                8,
            ).alias("dup_frac"),
        )
    )


@register(
    "q_sample_weighted",
    oracle="""
    SELECT doc_id, source, n_chars,
           round(pow((((doc_id * 2654435761) % 4294967296) + 0.5) / 4294967296.0,
                     1.0 / n_chars), 10) AS sample_key
    FROM documents
    ORDER BY sample_key DESC, doc_id
    LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis–
    Spirakis A-ES): 100 docs with inclusion odds ∝ length.

    Each doc draws a reproducible uniform u from the same Knuth
    multiplicative hash as q_sample_hash (pure function of doc_id — no RNG
    state, so retries/backfills select the identical sample) and competes
    with key u^(1/weight); the k largest keys ARE a weighted sample without
    replacement. Keys are rounded to 10 dp on both engines before ordering
    so libm pow's last-ulp wiggle can never flip the selection. The Spark
    plan is orderBy+limit → TakeOrderedAndProject: per-partition k-heaps,
    one tiny shuffle of 100-row candidates — a weighted corpus subsample at
    100 TB never global-sorts.
    """
    t = load_tables(spark, sf_dir)
    u = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) + F.lit(0.5)) / F.lit(
        4294967296.0
    )
    key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 10)
    return (
        t["documents"]
        .select("doc_id", "source", "n_chars", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(100)
    )


@register(
    "q_text_bigrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
              FROM documents)
    ),
    bg AS (
        SELECT doc_id, pos, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    counts AS (
        SELECT w1, w2, COUNT(*) AS n FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2
    )
    SELECT w1, w2, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE)
               AS p_next
    FROM counts
    ORDER BY n DESC, w1, w2
    LIMIT 50
    """,
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model statistics: top transitions and P(w2|w1).

    The n-gram LM table is the classic corpus-statistics building block
    (contamination screens, perplexity filters, repetition analysis). The
    Spark side never materializes per-token rows before pairing: bigrams
    come from zipping the token array with its own 1-shifted slice INSIDE
    the scan stage (arrays_zip of two slices — generator, no shuffle), so
    the only shuffles are the (w1,w2) count and the tiny w1-marginal
    window. The oracle pairs tokens via lead() over ordinal position —
    relationally identical. Conditional probability is an exact integer
    ratio cast once to double: deterministic on both engines. Tokenizer
    unified on ws_tokens/`\\s+` in round 7 (r06 verdict item 7): one
    corpus yields one token stream across every text operator.
    """
    t = load_tables(spark, sf_dir)
    ws = text.ws_tokens("text")
    n1 = F.greatest(F.size(ws) - F.lit(1), F.lit(0))
    pairs = F.arrays_zip(F.slice(ws, 1, n1), F.slice(ws, 2, n1))
    bg = (
        t["documents"]
        .select(F.explode(pairs).alias("bg"))
        .select(F.col("bg")["0"].alias("w1"), F.col("bg")["1"].alias("w2"))
    )
    counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    w1tot = Window.partitionBy("w1")
    return (
        counts.withColumn(
            "p_next",
            F.col("n").cast("double") / F.sum("n").over(w1tot).cast("double"),
        )
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


def _lloyd_cte_sql(k: int = 8, n_iter: int = 5) -> str:
    """DuckDB replay of operators.similarity.kmeans_lloyd as a WITH prefix:
    ``n_iter`` unrolled assign→update rounds (first-k-ids init,
    (dist2, cluster) tie-break, empty clusters keep their previous
    centroid) ending in an ``asg(vec_id, cluster, e)`` CTE — the final
    assignment against the last centroids. Sound because the measured
    minimum relative assignment margin on this corpus is 5.6e-7 across all
    iterations and both k configs (round-5 probes at k=8/5 iters and
    k=16/2 iters, sf0.01 and sf0.1) while cross-engine float-mean drift is
    ~1e-15 — eight orders of magnitude of headroom, so the integer
    ASSIGNMENTS are engine-stable even though centroid low bits are not
    (which is why no oracle-checked surface exposes dist2).

    Dimensionality is derived IN the SQL (``len(...)`` of the vector being
    scanned, r05 advice): a hardcoded ``generate_series(1, 64)`` would
    silently sum over a stale range if the embeddings fixture changed width
    (out-of-range list index yields NULL and list_sum skips NULLs — wrong
    answer, not an error)."""
    dist = (
        lambda a, b: f"list_sum([({a}[i]-{b}[i])**2 "
        f"FOR i IN generate_series(1,len({a}))])"
    )
    parts = [f"""v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
    FROM embeddings WHERE embedding IS NOT NULL
), c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
           e AS centroid
    FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT {k})
)"""]
    prev = "c0"
    for it in range(1, n_iter + 1):
        parts.append(f"""a{it} AS (
    SELECT vec_id, e, cluster FROM (
        SELECT v.vec_id, v.e, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {dist('v.e', 'c.centroid')}, c.cluster) AS rn
        FROM v, {prev} c
    ) WHERE rn = 1
), m{it} AS (
    SELECT cluster, i, avg(x) AS m FROM (
        SELECT cluster, unnest(e) AS x, generate_subscripts(e, 1) AS i
        FROM a{it}
    ) GROUP BY cluster, i
), n{it} AS (
    SELECT cluster, list(m ORDER BY i) AS centroid FROM m{it} GROUP BY cluster
), c{it} AS (
    SELECT p.cluster, COALESCE(n.centroid, p.centroid) AS centroid
    FROM {prev} p LEFT JOIN n{it} n USING (cluster)
)""")
        prev = f"c{it}"
    parts.append(f"""asg AS (
    SELECT vec_id, e, cluster FROM (
        SELECT v.vec_id, v.e, c.cluster,
               row_number() OVER (PARTITION BY v.vec_id
                   ORDER BY {dist('v.e', 'c.centroid')}, c.cluster) AS rn
        FROM v, {prev} c
    ) WHERE rn = 1
)""")
    return "WITH " + ",\n".join(parts)


@register(
    "q_emb_kmeans",
    oracle=_lloyd_cte_sql(k=8, n_iter=5) + "\nSELECT vec_id, cluster FROM asg",
)
def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding clustering for corpus curation (semantic dedup buckets,
    diversity-balanced sampling): from-scratch Lloyd k-means, k=8, five
    broadcast-model iterations (operators.similarity.kmeans_lloyd).

    SQL-oracle-checked since round 5 — per-VECTOR assignments, not just
    counts: a margin probe showed the minimum relative gap between each
    point's best and second-best centroid is 7e-6 over all iterations,
    dwarfing cross-engine float-mean drift (~1e-15), so DuckDB replays the
    full Lloyd fixpoint exactly (see _lloyd_cte_sql). The registered
    comparison surface is (vec_id, cluster); dist2 stays library-only
    (its 6-decimal rounding could flip a boundary bit under drift, and the
    assignment already encodes the argmin)."""
    t = load_tables(spark, sf_dir)
    return similarity.kmeans_lloyd(
        t["embeddings"], k=8, n_iter=5, model_key=f"{sf_dir}:embeddings"
    ).select("vec_id", "cluster")


def _ivf_oracle_sql(k: int = 5, nprobe: int = 8, n_iter: int = 2) -> str:
    """DuckDB replay of operators.similarity.ivf_portable_topk: the Lloyd
    CTE (16 cells, 2 iters — the margin-probed q_dedup_semantic config)
    assigns cells; cells rank by centroid cosine to the query; only the
    ``nprobe`` probed cells' members are scored exactly."""
    # NULLIF zero-norm guard: Spark's try_divide yields NULL for a zero
    # vector. DuckDB 1.0 happens to return NULL for x/0.0 too, but with
    # ieee_floating_point_ops (default-on in later versions) 0.0/0.0 is
    # NaN — which sorts ABOVE every value in ORDER BY DESC and would put a
    # zero vector at the top of the oracle's top-k while Spark ranks it
    # last. Guard explicitly so parity never depends on the DuckDB
    # version's division semantics (r06 review finding).
    cos = (
        lambda a, b: f"list_sum([{a}[i] * {b}[i]"
        f" FOR i IN generate_series(1, len({a}))])"
        f" / NULLIF(sqrt(list_sum(list_transform({a}, x -> x * x)))"
        f" * sqrt(list_sum(list_transform({b}, x -> x * x))), 0)"
    )
    return (
        _lloyd_cte_sql(k=16, n_iter=n_iter)
        + f"""
, qv AS MATERIALIZED (
    SELECT CAST(embedding AS DOUBLE[]) AS q
    FROM embeddings WHERE vec_id = 0
), cellrank AS MATERIALIZED (
    SELECT c.cluster,
           row_number() OVER (ORDER BY {cos('c.centroid', 'q')} DESC,
                              c.cluster) AS rk
    FROM c{n_iter} c, qv
)
SELECT 0 AS query_id, a.vec_id, ROUND({cos('a.e', 'q')}, 8) AS cos
FROM asg a
JOIN cellrank cr ON cr.cluster = a.cluster AND cr.rk <= {nprobe}, qv
ORDER BY {cos('a.e', 'q')} DESC, a.vec_id
LIMIT {k}
"""
    )


@register("q_sim_ivf", oracle=_ivf_oracle_sql(k=5, nprobe=8))
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 (deterministic Lloyd coarse quantizer, 16 cells, nprobe=8).

    SQL-oracle-checked since round 6 (previously rows-only): the
    registered key runs ``ivf_portable_topk``, whose quantizer is the
    from-scratch deterministic ``kmeans_lloyd`` — the same fit the
    q_dedup_semantic oracle already replays via the Lloyd-fixpoint CTE —
    so the full probe-and-score pipeline is DuckDB-replayable
    (``_ivf_oracle_sql``). It is the engine's only IVF. Uniform-random
    vectors remain IVF's worst case
    (neighbors scatter across cells); recall vs exact top-k is
    property-tested, and ranking-boundary margins are probed by
    scripts/margin_probe.py."""
    t = load_tables(spark, sf_dir)
    return similarity.ivf_portable_topk(
        t["embeddings"], _query_vec(t), k=5, nprobe=8,
        model_key=f"{sf_dir}:embeddings",
    )


#: BM25 free parameters (Robertson defaults) and the probe query terms.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ("join", "scan", "filter")


def _bm25_cte_sql() -> str:
    """The shared DuckDB CTE body scoring every matching doc (round 9) —
    used by the q_text_bm25 oracle and as the lexical leg of q_hybrid_rrf."""
    t1, t2, t3 = _BM25_TERMS
    scores = []
    for i, term in enumerate(_BM25_TERMS, start=1):
        scores.append(
            f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5)) * "
            f"(tf{i} * {_BM25_K1 + 1.0}) / "
            f"(tf{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        )
    return f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS dl,
               regexp_split_to_array(text, '\\s+') AS ws
        FROM documents
    ),
    stats AS (
        SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM d
    ),
    toks AS (
        SELECT doc_id, unnest(ws) AS w FROM d
    ),
    tf AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN w = '{t1}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf1,
               CAST(SUM(CASE WHEN w = '{t2}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf2,
               CAST(SUM(CASE WHEN w = '{t3}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf3
        FROM toks WHERE w IN ('{t1}', '{t2}', '{t3}')
        GROUP BY doc_id
    ),
    dfs AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN w = '{t1}' THEN doc_id END) AS DOUBLE) AS df1,
               CAST(COUNT(DISTINCT CASE WHEN w = '{t2}' THEN doc_id END) AS DOUBLE) AS df2,
               CAST(COUNT(DISTINCT CASE WHEN w = '{t3}' THEN doc_id END) AS DOUBLE) AS df3
        FROM toks WHERE w IN ('{t1}', '{t2}', '{t3}')
    ),
    lex AS (
        SELECT tf.doc_id,
               round((({scores[0]}) + ({scores[1]})) + ({scores[2]}), 9) AS bm25
        FROM tf JOIN d USING (doc_id), stats, dfs
    )"""


def _bm25_oracle() -> str:
    return f"""{_bm25_cte_sql()}
    SELECT doc_id, bm25
    FROM lex
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """


def _bm25_scored(t: dict[str, DataFrame]) -> DataFrame:
    """Every query-term-matching doc with its BM25 score (rounded 9) —
    Spark twin of ``_bm25_cte_sql``'s ``lex`` CTE."""
    d = t["documents"].select(
        "doc_id",
        F.size(text.ws_tokens("text")).cast("double").alias("dl"),
        text.ws_tokens("text").alias("ws"),
    )
    stats = d.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").cast("double").alias("n"),
    )
    toks = d.select("doc_id", F.explode("ws").alias("w")).filter(
        F.col("w").isin(*_BM25_TERMS)
    )
    tf = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("w") == term, 1).otherwise(0))
            .cast("double")
            .alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS, start=1)
        ]
    )
    dfs = toks.agg(
        *[
            F.count_distinct(F.when(F.col("w") == term, F.col("doc_id")))
            .cast("double")
            .alias(f"df{i}")
            for i, term in enumerate(_BM25_TERMS, start=1)
        ]
    )

    def term_score(i: int):
        tf_i, df_i = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n") - df_i + F.lit(0.5)) / (df_i + F.lit(0.5))
        )
        denom = tf_i + F.lit(_BM25_K1) * (
            F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
        )
        return idf * (tf_i * F.lit(_BM25_K1 + 1.0)) / denom

    score = (term_score(1) + term_score(2)) + term_score(3)
    return (
        tf.join(d.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
        .select("doc_id", F.round(score, 9).alias("bm25"))
    )


@register("q_text_bm25", oracle=_bm25_oracle())
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring — the classic lexical ranker, fully relational.

    One explode+filter keeps only query-term tokens (map-side, before any
    shuffle), one groupBy(doc_id) builds per-term tfs as CONDITIONAL sums
    (terms become fixed columns, so the final score adds three doubles in a
    pinned order — no shuffle-order float drift), and the corpus constants
    (N, avgdl, per-term df) ride in on a broadcast single-row join. Scores
    round to 9 dp on both engines to absorb libm ln's last-ulp wiggle. At
    100 TB: the token shuffle carries only matching terms, df/avgdl are
    re-aggregatable partials, and top-20 is TakeOrderedAndProject.
    """
    return (
        _bm25_scored(load_tables(spark, sf_dir))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "q_dedup_prefix",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        FROM documents WHERE lang = 'fr'
    ),
    sh AS (
        SELECT DISTINCT doc_id, unnest(
            [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             FOR i IN generate_series(1, len(t) - 2)]
        ) AS s
        FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.015
    """,
)
def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard pairs (ssjoin): identical answer set to
    q_dedup_ngram's shared-shingle blocking — the brute-force SQL IS the
    oracle — but candidates come only from each doc's rarest shingles
    (operators/dedup.prefix_filter_jaccard_pairs), the formulation that
    stays near-linear when common shingles would blow the blocking join up
    at corpus scale."""
    t = load_tables(spark, sf_dir)
    return dedup.prefix_filter_jaccard_pairs(
        t["documents"].filter(F.col("lang") == "fr"), n=3, threshold=0.015
    )


@register(
    "q_text_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
              FROM documents)
    ),
    bg AS (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    counts AS (
        SELECT w1, w2, COUNT(*) AS n FROM bg WHERE w2 IS NOT NULL GROUP BY w1, w2
    ),
    probs AS (
        SELECT w1, w2,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE)
                   AS p
        FROM counts
    )
    SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(ln(p)), 4) AS avg_logp
    FROM bg
    JOIN probs USING (w1, w2)
    GROUP BY doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM perplexity scoring (CCNet-style quality filter): each doc's
    mean log-probability under the corpus-wide bigram model — the standard
    signal for dropping gibberish / boilerplate before training. Two
    aggregations over the same generator-produced bigram stream: (1) global
    (w1,w2) counts + w1-marginal window → transition probabilities; (2) the
    per-doc average of ln(p) over the doc's own bigrams. The probability
    table is vocabulary-sized (tiny at any corpus scale), so it broadcasts
    and the scoring join never shuffles the corpus; the only wide exchange
    is the per-doc aggregation. ln() low bits differ across libm builds, so
    the score is rounded to 4 places on both engines (SURVEY §5.2).
    Tokenizer unified on ws_tokens/`\\s+` in round 7 (r06 verdict item
    7)."""
    t = load_tables(spark, sf_dir)
    ws = text.ws_tokens("text")
    n1 = F.greatest(F.size(ws) - F.lit(1), F.lit(0))
    pairs = F.arrays_zip(F.slice(ws, 1, n1), F.slice(ws, 2, n1))
    bg = (
        t["documents"]
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", F.col("bg")["0"].alias("w1"), F.col("bg")["1"].alias("w2"))
    )
    counts = bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    probs = counts.withColumn(
        "p",
        F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("w1")).cast("double"),
    ).select("w1", "w2", "p")
    return (
        bg.join(F.broadcast(probs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log("p")), 4).alias("avg_logp"),
        )
    )


@register(
    "q_hybrid_rrf",
    oracle=f"""{_bm25_cte_sql()},
    lexr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM lex
    ),
    sem AS (
        SELECT e.vec_id AS doc_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            CAST(q.qv AS DOUBLE[])), 8) AS cos
        FROM embeddings e
        JOIN documents dd ON dd.doc_id = e.vec_id,
             (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
    ),
    semr AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS sem_rank
        FROM sem
    )
    SELECT doc_id,
           CAST(lex_rank AS DOUBLE) AS lex_rank,
           CAST(sem_rank AS DOUBLE) AS sem_rank,
           ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0)
                 + COALESCE(1.0 / (60 + sem_rank), 0.0), 9) AS rrf
    FROM (SELECT * FROM lexr WHERE lex_rank <= 100) l
    FULL JOIN (SELECT * FROM semr WHERE sem_rank <= 100) s USING (doc_id)
    ORDER BY rrf DESC, doc_id
    LIMIT 15
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (the standard RAG-stack
    combiner): the BM25 lexical list and the embedding-cosine semantic list
    (query = vec 0) are each ranked top-100, then fused with
    RRF(d) = Σ 1/(60 + rank_i(d)) and the top 15 returned.

    Ranks are computed on ROUNDED scores (9 dp lexical, 8 dp semantic) with
    doc_id tie-breaks, so rank assignment — and therefore the fused set —
    is bit-independent of either engine's float low bits. Each leg takes its top-100 via TakeOrderedAndProject (partial per-partition
    top-k, no full sort) so the global rank window only ever sees 100 rows; the
    fusion join is rank-list-sized, broadcast on both sides. At 100 TB the
    candidate lists come from the inverted-index / ANN paths
    (q_text_inverted_index, q_sim_ann) and fusion cost is unchanged —
    RRF only ever touches the top-k lists."""
    t = load_tables(spark, sf_dir)
    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = (
        _bm25_scored(t)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(100)  # TakeOrderedAndProject: the rank window sees <= 100 rows
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .select("doc_id", "lex_rank")
    )
    q = t["embeddings"].filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    sem = (
        t["embeddings"]
        .join(t["documents"].select("doc_id"), F.col("vec_id") == F.col("doc_id"), "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(vector.cosine("embedding", "qv"), 8).alias("cos"),
        )
    )
    w_sem = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    semr = (
        sem.orderBy(F.desc("cos"), F.asc("doc_id"))
        .limit(100)
        .withColumn("sem_rank", F.row_number().over(w_sem))
        .select("doc_id", "sem_rank")
    )
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("sem_rank")), F.lit(0.0)),
        9,
    )
    return (
        lexr.join(semr, "doc_id", "full")
        .select(
            "doc_id",
            F.col("lex_rank").cast("double").alias("lex_rank"),
            F.col("sem_rank").cast("double").alias("sem_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(15)
    )


@register(
    "q_dedup_semantic",
    oracle=_lloyd_cte_sql(k=16, n_iter=2) + """
, p AS (
    SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
    FROM asg a JOIN asg b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.28
), pc AS (
    SELECT cluster, COUNT(*) AS n_pairs, COUNT(DISTINCT id_b) AS n_drop
    FROM p GROUP BY cluster
)
SELECT m.cluster, m.n_members,
       CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(COALESCE(pc.n_drop, 0) AS BIGINT) AS n_to_drop
FROM (SELECT cluster, COUNT(*) AS n_members FROM asg GROUP BY cluster) m
LEFT JOIN pc USING (cluster)
""",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    the embedding space with k-means, then search for near-identical pairs
    ONLY within each cluster — the O(n²/k) pruning that makes
    embedding-level dedup feasible at corpus scale (pairs in different
    clusters cannot be near-duplicates once clusters are tight). Pipeline:
    seeded deterministic Lloyd k-means (16 cells, 2 iterations — each
    iteration is a fixed-cost broadcast-join round and the subset/recall
    properties hold at any iteration count, so the gate-facing key runs
    the minimum that still separates the space; production callers pick
    their own n_iter on kmeans_lloyd) → within-cluster pair stats via
    ``semantic_dedup_stats``, which collapses byte-identical vectors first
    and computes member-pair counts arithmetically — integer-identical to
    the naive within-cluster self-join (differential-tested) but never
    quadratic in duplicate multiplicity (the round-4 scale rehearsal's
    replicated corpus made the naive form's verify 100× at 10× data). The
    within-cluster rep pairs are verified by one cogroup per cluster, each
    scored as a BLAS matmul under the naive filter's NULL/NaN/length
    semantics — the only verify path at every input size.
    Returns per-cluster totals: members, near-dup pairs, docs to drop.

    SQL-oracle-checked since round 5: DuckDB replays the Lloyd fixpoint
    (shared _lloyd_cte_sql; assignment margins ≥5.6e-7 vs ~1e-15 drift —
    see q_emb_kmeans) and then the NAIVE within-cluster enumeration, which
    the collapse arithmetic is integer-identical to by construction
    (differential-tested); the cosine threshold is margin-safe too
    (min |cos − 0.28| = 5.1e-6 within clusters at both gate scales, vs
    ~1e-15 BLAS summation-order drift from the JVM fold).
    Recall vs the clusterless all-pairs scan and drop-idempotence remain
    property-tested."""
    from .operators.dedup import semantic_dedup_stats
    from .operators.similarity import kmeans_lloyd

    t = load_tables(spark, sf_dir)
    assigned = kmeans_lloyd(
        t["embeddings"], k=16, n_iter=2, model_key=f"{sf_dir}:embeddings"
    ).select("vec_id", "cluster")
    vecs = t["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(assigned, "vec_id")
    return semantic_dedup_stats(vecs, threshold=0.28).orderBy("cluster")


@register(
    "q_sample_split",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               CASE WHEN (doc_id * 2654435761) % 4294967296 % 20 < 18 THEN 'train'
                    WHEN (doc_id * 2654435761) % 4294967296 % 20 = 18 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
    FROM assigned
    GROUP BY split, lang
    """,
)
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by Knuth multiplicative
    hash bucket of the id — every doc lands in exactly one split (disjoint
    and exhaustive BY CONSTRUCTION: one CASE over one bucket value), and
    membership survives re-extraction, re-partitioning, and engine changes,
    which rng-based splitters do not. A pure projection followed by one
    small aggregate; at corpus scale the split column is computed in the
    scan stage and the assignment itself never shuffles. Returns per-split
    per-language counts + id ranges (the audit view; the assignment
    projection is the reusable part)."""
    t = load_tables(spark, sf_dir)
    bucket = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % F.lit(20)
    split = (
        F.when(bucket < 18, "train").when(bucket == 18, "val").otherwise("test")
    )
    return (
        t["documents"]
        .select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


@register(
    "q_quality_gopher",
    oracle=r"""
    WITH feats AS (
        SELECT doc_id, lang,
               len(regexp_split_to_array(text, '\s+')) AS n_words,
               CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / len(regexp_split_to_array(text, '\s+')) AS mean_word_len,
               len(list_filter(regexp_split_to_array(text, '\s+'),
                   t -> t IN ('the','of','and','to','in','is','that','for')))
                   AS n_stop
        FROM documents WHERE lang = 'en'
    )
    SELECT doc_id, n_words, ROUND(mean_word_len, 8) AS mean_word_len, n_stop,
           (n_words BETWEEN 50 AND 100000) AS pass_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS pass_word_len,
           (n_stop >= 2) AS pass_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND n_stop >= 2) AS pass_all
    FROM feats
    """,
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rules bundle (Rae et al. 2021, §A1.1): the named
    document filters applied as one pass — word count in [50, 100k], mean
    word length in [3, 10], at least 2 stopwords — with a per-rule flag and
    the conjunction (the symbol-ratio and ellipsis-line rules are vacuous
    on this synthetic corpus and omitted). One projection computes every
    feature from the token array already in flight; the rules are pure
    column predicates that codegen together, so the bundle costs exactly
    one corpus scan. Boundaries compare integers and an exact-ratio double
    (total non-space chars / word count), so no flag can flip between
    engines; the reported ratio column is display-rounded only."""
    t = load_tables(spark, sf_dir)
    toks = text.ws_tokens("text")
    n_words = F.size(toks)
    mean_wl = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("double") / n_words
    )
    n_stop = F.size(F.filter(toks, lambda tk: tk.isin(*text.STOPWORDS["en"])))
    d = t["documents"].filter(F.col("lang") == "en").select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mwl_raw"),
        n_stop.alias("n_stop"),
    )
    pass_wc = F.col("n_words").between(50, 100000)
    pass_wl = (F.col("mwl_raw") >= 3.0) & (F.col("mwl_raw") <= 10.0)
    pass_st = F.col("n_stop") >= 2
    return d.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mwl_raw", 8).alias("mean_word_len"),
        F.col("n_stop").cast("long").alias("n_stop"),
        pass_wc.alias("pass_word_count"),
        pass_wl.alias("pass_word_len"),
        pass_st.alias("pass_stopwords"),
        (pass_wc & pass_wl & pass_st).alias("pass_all"),
    )


@register(
    "q_text_vocab_oov",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents WHERE lang = 'en'
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS c FROM toks GROUP BY token
            ORDER BY c DESC, token LIMIT 200
        )
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 8) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
    """,
)
def q_text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + per-document OOV rate — the tokenizer-coverage
    check run before committing a vocab to a training run.

    The vocab is the top-200 tokens by (count DESC, token ASC) — a total
    order, so the cut boundary is engine-independent. Plan: one token
    explode feeds both the vocab aggregation (partial agg + ORDER BY/LIMIT
    = TakeOrderedAndProject, never a full sort) and the per-doc scoring
    join; the vocab side is broadcast (it is LIMIT-bounded by construction,
    at any corpus scale), so scoring adds zero shuffles beyond the per-doc
    aggregation itself.
    """
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("lang") == "en")
    toks = docs.select("doc_id", F.explode(text.ws_tokens("text")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(200)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                8,
            ).alias("oov_rate"),
        )
    )


@register(
    "q_dsir_weights",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents
    ),
    stats AS (
        SELECT token,
               CAST(COUNT(*) AS DOUBLE) AS c_all,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS c_t
        FROM toks GROUP BY token
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_t,
               CAST(COUNT(DISTINCT token) AS DOUBLE) AS v
        FROM toks
    ),
    lr AS (
        SELECT token,
               CAST(floor((ln((c_t + 1) / (n_t + v))
                           - ln((c_all + 1) / (n_all + v))) * 1000000 + 0.5)
                    AS BIGINT) AS u
        FROM stats, tot
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(u) / 1000000.0, 3) AS w_logratio
    FROM toks t JOIN lr USING (token)
    GROUP BY t.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: per-doc log-likelihood ratio of an
    add-one-smoothed target unigram LM (the English slice) against the raw
    corpus LM — the data-selection score used to up-sample target-like
    documents when mixing pretraining corpora.

    Determinism: the per-token log-ratio is canonicalized to fixed-point
    units (floor(x*1e6+0.5) → BIGINT) BEFORE the per-doc sum, so the sum is
    exact integer arithmetic — associative under any partitioning, no
    float-summation-order drift (the same discipline as functions.parity).
    The OUTPUT is the summed log-ratio rounded to 3 dp, not the raw units:
    both engines feed ln identical doubles, but their ln implementations
    are not guaranteed ulp-identical, and a 1-ulp disagreement exactly at a
    floor(x+0.5) boundary would flip that token's unit in every doc that
    contains it. The 3-dp round absorbs up to ~500 such per-doc unit flips;
    residual risk (a flip landing a value exactly on a 0.0005 edge) is the
    product of two independent boundary events — negligible, and strictly
    smaller than exposing raw units was.
    Plan (r10: three corpus passes → two): one explode feeds the
    token-stats aggregation; the CORPUS totals (n_all, n_t, v) are exact
    marginals of that vocabulary-sized table (Σc_all, Σc_t, row count), so
    they are re-aggregated from it instead of re-tokenizing the corpus —
    dropping a whole scan+explode pass plus the COUNT(DISTINCT token)
    expand pair of exchanges. ``stats`` feeds both the totals and the ratio
    projection, so it is materialized once (localCheckpoint — O(vocabulary)
    rows, the same bounded-model discipline as the minhash signature
    checkpoint); the ratio table is broadcast to the scoring join, so
    scoring a 100 TB corpus is two corpus passes (stats, scoring) with one
    shuffle each — the information-theoretic floor for this statistic
    (the LM needs every token before any doc can be scored).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id", "lang", F.explode(text.ws_tokens("text")).alias("token")
    )
    # eager=True (r11, r10 advice): ``stats`` is consumed by TWO
    # independently-submitted subtrees — the broadcast totals build and
    # the stream-side ratio projection. graph.py's edge checkpoint keeps
    # eager=True for exactly this pattern: two jobs racing to materialize
    # a LAZY localCheckpoint can hit the partition-computation race on
    # lazily-cached RDDs. This spot happened to be safe only because the
    # broadcast exchange runs as a separate job before the stream stage
    # launches — an ordering a refactor could silently lose. Cost is nil:
    # the materialization job runs either way (cold-JVM A/B at sf0.1:
    # ckpt/nockpt/old3 all tie within the ±0.5 s host noise floor).
    stats = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("c_all_l"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("c_t_l"),
    ).localCheckpoint(eager=True)
    # Exact integer marginals of the per-token counts, cast to double only
    # at the end — identical values to counting the token stream directly.
    tot = stats.agg(
        F.sum("c_all_l").cast("double").alias("n_all"),
        F.sum("c_t_l").cast("double").alias("n_t"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    lr = stats.select(
        "token",
        F.col("c_all_l").cast("double").alias("c_all"),
        F.col("c_t_l").cast("double").alias("c_t"),
    ).crossJoin(F.broadcast(tot)).select(
        "token",
        F.floor(
            (
                F.log((F.col("c_t") + 1) / (F.col("n_t") + F.col("v")))
                - F.log((F.col("c_all") + 1) / (F.col("n_all") + F.col("v")))
            )
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("u"),
    )
    return (
        toks.join(F.broadcast(lr), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("u") / F.lit(1000000.0), 3).alias("w_logratio"),
        )
    )


@register(
    "q_scrub_dup_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, '\s+') AS t
        FROM documents WHERE lang = 'de'
    ),
    sh AS (
        SELECT doc_id, i AS start,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                    || ' ' || t[i+4] AS s
        FROM toks, unnest(generate_series(1, len(t) - 4)) AS g(i)
    ),
    dup AS (
        SELECT s FROM sh GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    covered AS (
        SELECT DISTINCT sh.doc_id, CAST(sh.start + off AS BIGINT) AS pos
        FROM sh JOIN dup USING (s),
             unnest(generate_series(0, 4)) AS o(off)
    ),
    pos_tok AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS token
        FROM toks, unnest(generate_series(1, len(t))) AS g(i)
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN p.token END, ' '
                               ORDER BY p.pos), '') AS cleaned_text
    FROM pos_tok p
    LEFT JOIN covered c ON c.doc_id = p.doc_id AND c.pos = p.pos
    GROUP BY p.doc_id
    """,
)
def q_scrub_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span scrubbing (the RefinedWeb/Lee-et-al exact-
    substring dedup, word-granular): any 5-gram span that occurs in two or
    more documents is removed from EVERY document, and the surviving tokens
    are stitched back in order.

    Plan: one explode produces positioned 5-gram shingles; the duplicated-
    shingle set is a grouped HAVING (partial agg combines map-side, the
    shuffle carries one row per distinct shingle); covered token positions
    come from exploding each duplicated shingle into its 5 offsets; a
    left anti-style join marks covered tokens; the rebuild is a per-doc
    sort-free aggregation (collect sorted by position). At 100 TB the
    shingle strings become xxhash64 fingerprints (same plan, 8-byte keys)
    and the dup set is range-partitioned — no step is quadratic; everything
    is keyed joins and two-phase aggs on the shingle/doc keys. German
    slice: small enough that the cleaned_text column stays hash-friendly.
    """
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("lang") == "de")
    toks = docs.select("doc_id", text.ws_tokens("text").alias("t"))
    sh = toks.select(
        "doc_id",
        F.posexplode(text.shingles("t", n=5)).alias("start0", "s"),
    ).select("doc_id", (F.col("start0") + 1).alias("start"), "s")
    dup = sh.groupBy("s").agg(
        F.countDistinct("doc_id").alias("nd")
    ).filter(F.col("nd") >= 2).select("s")
    covered = (
        sh.join(dup, "s")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(4))
            ).alias("pos"),
        )
        .distinct()
        .withColumn("is_covered", F.lit(1))
    )
    pos_tok = toks.select(
        "doc_id", F.posexplode("t").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "token")
    return (
        pos_tok.join(covered, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("is_covered").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_covered").isNull(),
                                F.struct("pos", "token"),
                            )
                        )
                    ),
                    lambda x: x.getField("token"),
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


@register(
    "q_dedup_url_canonical",
    oracle="""
    WITH urls AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN 'HTTP://WWW.Example.COM/corpus/doc-'
                         || CAST(doc_id // 3 AS VARCHAR) || '/'
                    ELSE 'https://example.com/corpus/doc-'
                         || CAST(doc_id // 3 AS VARCHAR) END
               || '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id, url,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(lower(regexp_replace(url, '\\?.*$', '')),
                                          '^http://', 'https://'),
                           '^https://www\\.', 'https://'),
                       '/$', ''),
                   '^$', '') AS canonical
        FROM urls
    )
    SELECT canonical,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_urls,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM canon
    GROUP BY canonical
    HAVING COUNT(*) >= 2
    """,
)
def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the web-crawl curation stage that runs
    BEFORE content dedup: scheme/case/www/trailing-slash/tracking-param
    variants of the same target collapse to one canonical form
    (lowercase, https, no www., no trailing slash, query stripped), and
    each canonical group keeps its minimum doc as the survivor.

    The messy URLs are synthesized deterministically (the corpus has none)
    with real-world variance: alternating scheme case, WWW prefixes,
    trailing slashes, and utm/ref tracking params, three raw variants per
    target. Pure regexp projection (codegen'd, identical RE2-safe patterns
    on both engines) + one grouped aggregation — at 100 TB this is a scan
    plus a shuffle on the canonical key, with the same skew answer as any
    hot-key aggregation (AQE/salting for the front-page URLs).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    url = F.concat(
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example.COM/corpus/doc-"),
                F.expr("doc_id div 3").cast("string"),
                F.lit("/"),
            ),
        ).otherwise(
            F.concat(
                F.lit("https://example.com/corpus/doc-"),
                F.expr("doc_id div 3").cast("string"),
            )
        ),
        F.lit("?utm_source=feed&ref="),
        F.col("doc_id").cast("string"),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.regexp_replace(url, r"\?.*$", "")),
                    r"^http://",
                    "https://",
                ),
                r"^https://www\.",
                "https://",
            ),
            r"/$",
            "",
        ),
        r"^$",
        "",
    )
    return (
        docs.select("doc_id", url.alias("url"), canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("url").alias("n_distinct_urls"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_variants") >= 2)
    )


@register(
    "q_text_entropy",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS c
        FROM toks GROUP BY doc_id, token
    ),
    dl AS (
        SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_distinct
        FROM tf GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(d.n AS BIGINT) AS n_tokens,
           d.n_distinct,
           ROUND(-SUM(CAST(floor((t.c / d.n) * ln(t.c / d.n) * 1000000000 + 0.5)
                    AS BIGINT)) / 1000000000.0, 6) AS entropy_nats
    FROM tf t JOIN dl d USING (doc_id)
    GROUP BY t.doc_id, d.n, d.n_distinct
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (−Σ p·ln p over in-doc token
    frequencies) — the compressibility/repetitiveness quality signal:
    machine-generated or boilerplate text scores low, diverse prose high.

    Determinism: each term p·ln(p) is canonicalized to fixed-point 1e-9
    units (floor(x+0.5) → BIGINT) BEFORE the per-doc sum, so the sum is
    exact integer arithmetic — associative under any partitioning, the
    same discipline as q_dsir_weights. The OUTPUT is entropy in nats
    rounded to 6 dp rather than the raw units: JVM Math.log and DuckDB's
    libm are not guaranteed ulp-identical, and a 1-ulp disagreement right
    at a floor(x+0.5) boundary would flip one raw unit — the 6-dp round
    absorbs that (a flip changes the value by 1e-9; it could only surface
    if the true value also sat within 1e-9 of a 0.5e-6 rounding edge —
    jointly negligible where raw units were a single ulp from red). Plan:
    one explode, a (doc, token) grouped count (partial agg combines
    map-side), a doc-grain length join, one per-doc aggregation — two
    shuffles total, nothing Python.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select("doc_id", F.explode(text.ws_tokens("text")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    dl = tf.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    p = F.col("c") / F.col("n")
    units = F.floor(p * F.log(p) * 1000000000 + 0.5).cast("long")
    return (
        tf.join(dl, "doc_id")
        .groupBy("doc_id", "n", "n_distinct")
        .agg(F.sum(units).cast("long").alias("neg_entropy_units"))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            "n_distinct",
            F.round(
                -F.col("neg_entropy_units") / F.lit(1000000000.0), 6
            ).alias("entropy_nats"),
        )
    )
