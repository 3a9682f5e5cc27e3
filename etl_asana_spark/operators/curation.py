"""Corpus curation operators: deterministic slicing for training pipelines
and the benchmark-contamination join.

The catalog's curation queries (q_sample_hash / q_cap_per_source /
q_mix_corpus) compose these ideas inline; this module exposes the reusable
primitive: content-addressed bucketing. Membership in any slice is a pure
function of the row's id — reproducible across runs, engines, partition
layouts, and re-extractions, which is the property that makes a training
split auditable. ``rand()``-based sampling has none of these.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import shingle_hashes

#: Knuth multiplicative hash modulus/multiplier — portable arithmetic that
#: any engine (and any auditor with a calculator) can reproduce exactly.
_MULT = 2654435761
_MOD = 4294967296


def hash_bucket(id_col: Column | str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from an integer id column."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return ((c * F.lit(_MULT)) % F.lit(_MOD)) % F.lit(n_buckets)


def split_ranges(
    fractions: dict[str, float], buckets: int = 10_000
) -> list[tuple[str, int, int]]:
    """Contiguous, validated bucket ranges for a named hash split.

    Fractions must sum to ≤ 1 (any remainder is simply unassigned); the
    single validation point shared by :func:`hash_split` and
    ``pipelines.curate_corpus`` so the two can never diverge silently.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    ranges: list[tuple[str, int, int]] = []
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * buckets))
        ranges.append((name, lo, hi))
        lo = hi
    return ranges


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
) -> dict[str, DataFrame]:
    """Split into named slices by contiguous hash-bucket ranges.

    ``fractions`` maps slice name → fraction; fractions must sum to ≤ 1
    (any remainder is simply unassigned). Slices are disjoint and stable:
    a row's slice never changes when data is added, re-partitioned, or the
    job re-runs — the contract a train/val/test split must keep.
    """
    bucket = hash_bucket(id_col, 10_000)
    return {
        name: df.filter((bucket >= lo) & (bucket < hi))
        for name, lo, hi in split_ranges(fractions)
    }


def contaminated_pairs(
    docs: DataFrame, bench: DataFrame, min_shared: int
) -> DataFrame:
    """``(doc_id, bench_id, shared)`` for every corpus doc and benchmark doc
    sharing at least ``min_shared`` distinct word trigrams.

    ``docs`` carries ``doc_id``/``text`` and ``bench`` carries
    ``bench_id``/``text``. The join is shingle-blocked: pairs materialize
    only on shared trigram hashes (:func:`.text.shingle_hashes`), and the
    benchmark side is broadcast — an eval set is small next to the corpus.
    """
    return (
        shingle_hashes(docs, "doc_id", 3)
        .join(F.broadcast(shingle_hashes(bench, "bench_id", 3)), "sh")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


PACKED_SCHEMA = (
    "seq_id long, doc_ids array<long>, n_docs int, total_tokens long"
)


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    parts: int | None = None,
) -> DataFrame:
    """Greedy sequence packing: concatenate docs into training rows of at
    most ``max_tokens`` tokens (first-fit over a deterministic doc order).

    The pretraining batch-construction step: short documents are packed
    together so every training row is near the context length. Exact global
    first-fit is inherently sequential, so the engine packs per bucket —
    docs are grouped on ``id % parts`` and sorted by id inside each group
    (round-5: bucket arithmetic replaced ``repartitionByRange``, whose
    RESERVOIR-SAMPLED boundaries depended on the input's physical layout —
    the packing is now a pure function of (ids, token counts, parts),
    invariant to file count and row order, and exactly reproducible by a
    SQL oracle). Each group packs independently under ``applyInPandas``;
    ``seq_id`` namespaces by bucket. Packing efficiency loss vs global
    first-fit is at most one underfull tail sequence per bucket —
    negligible when buckets hold thousands of docs, which is the 100 TB
    operating point (scale ``parts`` with the corpus; a group must fit one
    executor's pandas heap).

    Docs longer than ``max_tokens`` get a sequence of their own (real
    pipelines chunk them upstream; packing must not drop them).
    """
    import pandas as pd

    n_parts = parts or max(docs.rdd.getNumPartitions(), 1)
    # NULL ids are outside the packing domain (a doc with no id cannot be
    # referenced from doc_ids — and would otherwise form a NULL bucket).
    bucketed = docs.filter(F.col(id_col).isNotNull()).select(
        id_col, token_col, F.pmod(F.col(id_col), F.lit(n_parts)).alias("_bucket")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        bucket = int(pdf["_bucket"].iloc[0])
        seqs: list[tuple[list[int], int]] = []
        cur_ids: list[int] = []
        cur_tok = 0
        for did, tok in zip(pdf[id_col], pdf[token_col]):
            if tok != tok or tok is None:  # NULL token count (NaN in
                continue  # pandas): doc is outside the packing domain
            tok = int(tok)
            if cur_ids and cur_tok + tok > max_tokens:
                seqs.append((cur_ids, cur_tok))
                cur_ids, cur_tok = [], 0
            cur_ids.append(int(did))
            cur_tok += tok
        if cur_ids:
            seqs.append((cur_ids, cur_tok))
        if not seqs:
            # Typed empty frame: a bare ``pd.DataFrame({.. : []})`` makes
            # float64 numpy columns, which Arrow cannot convert to the
            # declared ``array<long>`` (an all-NULL-token group — every doc
            # outside the packing domain — hits this).
            return pd.DataFrame(
                {
                    "seq_id": pd.Series(dtype="int64"),
                    "doc_ids": pd.Series(dtype="object"),
                    "n_docs": pd.Series(dtype="int64"),
                    "total_tokens": pd.Series(dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "seq_id": [bucket * 1_000_000 + i for i in range(len(seqs))],
                "doc_ids": [ids for ids, _ in seqs],
                "n_docs": [len(ids) for ids, _ in seqs],
                "total_tokens": [t for _, t in seqs],
            }
        )

    return bucketed.groupBy("_bucket").applyInPandas(pack, schema=PACKED_SCHEMA)
