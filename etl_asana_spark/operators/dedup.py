"""Deduplication operator family (SURVEY §2.12 #68/#69 + north-star mandate).

Exact dedup is implemented as a deterministic keep-rule (row_number over an
explicit ordering) rather than ``dropDuplicates``: at 100 TB, "an arbitrary
survivor per key" is not reproducible across runs/partitionings, and the
reference's load stage semantics (last-modified-wins upsert) need an explicit
ordering anyway. Catalyst plans this as a single hash-partitioned window —
same shuffle cost as dropDuplicates, deterministic result.

Fuzzy families, all linear-ish by blocking (never all-pairs at scale):

- MinHash LSH   — Jaccard near-dups; five fixed LCG permutations over
                  Rabin-Karp shingle hashes, banding turns O(n²) into a
                  shuffle on (slot, min) keys, exact Jaccard verify
                  (``minhash_portable_pairs``).
- SimHash       — 40-bit weighted-bit signature over the same shingle
                  folds; candidate pairs via 10-bit band equality, verified
                  by Hamming distance (``simhash_portable_pairs``).
- n-gram Jaccard— exact set Jaccard over xxhash64'd word-shingle sets
                  (``text.shingle_hashes``). One scaffold
                  (``_exact_jaccard_pairs``: exact-duplicate collapse,
                  shingle sets, ratio-and-threshold verify) wraps two
                  candidate cores with the same answer set. Shared-shingle
                  blocking (``ngram_jaccard_pairs``) pairs docs sharing
                  ≥1 shingle that pass a length filter; the prefix filter
                  (``prefix_filter_jaccard_pairs``) pairs them only
                  through each doc's rarest shingles and counts the
                  overlap with ``array_intersect``.
                  ``ngram_dedup_clusters`` runs components over the
                  blocking pairs of the distinct texts.
- embedding cos — near-dups in embedding space; the registered path is
                  triangle-inequality cell blocking (exact, BNLJ-free —
                  ``embedding_cosine_dups_blocked``) whose candidate pairs
                  are verified by one numpy/BLAS kernel over Arrow
                  cogroups (``_cosine_matches``, shared with
                  ``semantic_dedup_stats``); it keeps the JVM filter's
                  NULL/NaN/length semantics, so the answer set is the
                  all-pairs one. The plain all-pairs form is kept as the
                  small-scale reference the tests compare against.

Every fuzzy family has ONE implementation, built from fixed published
constants, so DuckDB replays it step for step (the q_dedup_* oracles).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import shingle_hashes, shingles


def dedup_exact(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per ``keys``: the first under ``order_by``.

    ``order_by`` must be a total order within each key group (include a
    unique column last) or the survivor is still ambiguous.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_last_modified_wins(
    df: DataFrame, key: str, modified_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """Reference load-stage semantics: newest version of each key survives.

    Reconstruction of the ETL upsert (SURVEY.md §0.3 R3): rows whose
    ``modified_col`` advanced replace older versions of the same ``key``.
    """
    order = [F.col(modified_col).desc(), *[F.col(c).desc() for c in tiebreak]]
    return dedup_exact(df, [key], order)


# ---------------------------------------------------------------------------
# Fuzzy dedup
# ---------------------------------------------------------------------------


def unshingleable_count(
    docs: DataFrame, shingle_n: int = 3, text_col: str = "text"
) -> int:
    """Count docs too short to shingle (< ``shingle_n`` whitespace-run
    tokens, ``_run_split_size``).

    :func:`minhash_portable_signatures` drops such docs and
    :func:`simhash_portable_signatures` gives them a NULL signature, so
    ``minhash_portable_pairs`` and ``simhash_portable_pairs`` silently
    EXCLUDE them from pairing; call this to detect a corpus dominated by
    unshingleable docs, where those families would quietly return
    near-empty pair sets. NULL text counts as unshingleable (it is
    likewise excluded from pairing)."""
    return docs.filter(
        F.col(text_col).isNull() | (_run_split_size(text_col) < shingle_n)
    ).count()


def _run_split_size(text: Column | str) -> Column:
    """Token count under the family's shared whitespace-RUN tokenization."""
    return F.size(
        F.filter(F.split(F.col(text) if isinstance(text, str) else text, r"\s+"),
                 lambda t: t != F.lit(""))
    )


def _expand_member_pairs(
    rep_pairs: DataFrame, membership: DataFrame, payload: str
) -> DataFrame:
    """Representative pairs → member pairs (the exact-duplicate-collapse
    expansion shared by the text and embedding fuzzy-dedup families).

    Every member of rep_a's text-group pairs with every member of rep_b's
    at the rep pair's ``payload`` value (members are byte-identical to
    their rep, so the distance IS the member distance). Two shuffle joins
    on rep ids — output size is the answer size, inherent to the pair
    contract."""
    ma = membership.select(F.col("rep").alias("id_a"), F.col("id").alias("pa"))
    mb = membership.select(F.col("rep").alias("id_b"), F.col("id").alias("pb"))
    return (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("pa", "pb").alias("id_a"),
            F.greatest("pa", "pb").alias("id_b"),
            F.col(payload),
        )
    )


def _intra_group_pairs(
    groups: DataFrame,
    membership: DataFrame,
    pairable: Column,
    payload: Column,
    payload_name: str,
) -> DataFrame:
    """All within-group member pairs for groups that can self-pair.

    ``pairable`` and ``payload`` are evaluated against the group's ``vec``
    (the shared text or vector): byte-identical members pair in the naive
    formulation exactly when their shared value pairs with itself, at the
    self-distance ``payload``. Both are evaluated once per group, BEFORE the
    quadratic enumeration joins, so an unpairable group never pays its
    expansion."""
    return (
        groups.filter((F.col("cnt") >= 2) & pairable)
        .select("rep", payload.alias(payload_name))
        .join(membership.select("rep", F.col("id").alias("pa")), "rep")
        .join(membership.select("rep", F.col("id").alias("pb")), "rep")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("id_a"), F.col("pb").alias("id_b"), payload_name)
    )


def _collapsed_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    naive_fn,
    pairable: Column,
    payload: Column,
    payload_name: str,
    emit_intra: bool,
) -> DataFrame:
    """The exact-duplicate collapse shared by the four text pair families
    and the blocked embedding family: one representative per distinct text
    (or vector) → ``naive_fn`` over reps → expand rep pairs to member pairs
    → within-group pairs for groups the naive form would self-pair.

    Single-sourced so the per-family pieces that MUST stay mutually
    consistent live at one call site each: ``naive_fn(reps)`` returns the
    family's naive pairs as (id_a, id_b, ``payload_name``) over a frame
    with the caller's ``id_col``/``text_col`` schema; ``pairable`` mirrors
    the naive featurizer's pairing capability against the group value
    ``vec``; ``emit_intra`` mirrors the naive form's threshold boundary
    (identical texts sit AT self-distance, and whether the naive filter
    emits them there is family-specific — strict ``<`` for MinHash's
    distance filter, inclusive for the Hamming/Jaccard filters).
    The review of the original four hand-expanded copies found exactly the
    drift this prevents: three copies had the boundary guard, minhash
    didn't."""
    groups, membership = _collapse_exact(docs, id_col, text_col)
    reps = groups.select(
        F.col("rep").alias(id_col), F.col("vec").alias(text_col)
    )
    cross = _expand_member_pairs(naive_fn(reps), membership, payload_name)
    if not emit_intra:
        return cross
    intra = _intra_group_pairs(
        groups, membership,
        pairable=pairable, payload=payload, payload_name=payload_name,
    )
    return cross.unionByName(intra)


#: Portable-MinHash constants (engine-neutral, reproducible in SQL).
#: P is the Mersenne prime 2^31-1: with shingle hashes reduced mod P and
#: coefficients < P, every product in h_i(x) = (a_i·x + b_i) mod P stays
#: below 2^62 — exact in BIGINT on both engines, no 128-bit arithmetic.
#: The (a, b) rows are the classic LCG multiplier/increment constants
#: (glibc, MSVC, Borland, SunOS, VAX) — arbitrary but published, fixed,
#: and engine-independent; five permutations, one per band slot.
_MINHASH_P = 2147483647
_MINHASH_COEFFS = (
    (1103515245, 12345),
    (1140671485, 12820163),
    (214013, 2531011),
    (16843009, 826366247),
    (69069, 1234567),
)


def _codepoint_folds(vals):
    """Rabin-Karp fold ``h → (h·131 + codepoint) mod 2^40`` of every string
    in the non-empty Arrow string array ``vals`` — :func:`.text.poly_hash`
    as numpy, vectorized ACROSS strings (one pass per character position).

    Code points are Python ``ord`` / UTF-32 units, astral chars included
    — the units the DuckDB oracles' per-character ``unicode`` fold
    iterates. Every step stays < 2^47, exact in int64; the empty string
    folds to 0. Runs inside Python workers (imports are local)."""
    import numpy as np
    import pyarrow.compute as pc

    lens = np.asarray(pc.utf8_length(vals), dtype=np.int64)
    cps = np.frombuffer(
        "".join(vals.to_pylist()).encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    starts = np.zeros(len(vals), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    h = np.zeros(len(vals), dtype=np.int64)
    for k in range(int(lens.max())):
        act = lens > k
        h[act] = (h[act] * 131 + cps[starts[act] + k]) % (1 << 40)
    return h


def minhash_portable_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Portable MinHash signatures: (id, ``__hs`` = the doc's DISTINCT
    shingle hashes in first-occurrence order, ``__mh0..4`` = the five
    permutation minima) for every doc that has at least one shingle —
    NULL text and docs with fewer than ``shingle_n`` run-split tokens have
    no signature and are dropped.

    Tokenizing and shingling are JVM codegen; the hashing is one numpy
    pass per Arrow batch (mapInArrow). A shingle hash is
    :func:`_codepoint_folds` reduced mod P; permutation ``i`` is
    ``(a_i·x + b_i) mod P`` (steps < 2^62, exact int64). DuckDB replays
    every step (the q_dedup_minhash oracle).
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    pre = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("__toks")
    ).select(id_col, shingles("__toks", shingle_n).alias("__sh"))
    id_dt = pre.schema[id_col].dataType.simpleString()
    n_coeffs = len(_MINHASH_COEFFS)
    coeffs = tuple(_MINHASH_COEFFS)
    p_mod = _MINHASH_P

    def signatures(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        mh_names = [f"__mh{i}" for i in range(n_coeffs)]

        for rb in batches:
            ids = rb.column(0)
            sh = rb.column(1)
            vals = sh.flatten()
            if len(vals) == 0:
                continue  # no doc in the batch has a shingle
            n_docs = rb.num_rows
            doc_counts = np.diff(np.asarray(sh.offsets))
            hs = _codepoint_folds(vals) % p_mod
            # distinct per doc, first occurrence preserved
            doc_idx = np.repeat(np.arange(n_docs), doc_counts)
            dd = pd.DataFrame({"d": doc_idx, "h": hs}).drop_duplicates()
            counts = np.zeros(n_docs, dtype=np.int64)
            vc = dd["d"].value_counts(sort=False)
            counts[vc.index.to_numpy()] = vc.to_numpy()
            offsets = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(counts, out=offsets[1:])
            hvals = dd["h"].to_numpy()
            hs_col = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(hvals, type=pa.int64()),
            )
            # five LCG permutation minima per doc (docs without shingles
            # get 0 here and are dropped by the size(__hs) > 0 filter)
            cols = {id_col: ids, "__hs": hs_col}
            nonempty = counts > 0
            seg = offsets[:-1][nonempty]
            for m, (a, b) in zip(mh_names, coeffs):
                t = (hvals * a + b) % p_mod
                out = np.zeros(n_docs, dtype=np.int64)
                out[nonempty] = np.minimum.reduceat(t, seg)
                cols[m] = pa.array(out)
            yield pa.record_batch(cols)

    mh_schema = ", ".join(f"__mh{i} bigint" for i in range(n_coeffs))
    return pre.mapInArrow(
        signatures, f"{id_col} {id_dt}, __hs array<bigint>, {mh_schema}"
    ).filter(F.size("__hs") > 0)


def minhash_portable_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    collapse: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by MinHash LSH over SHINGLE sets — shingle →
    minhash → band, the canonical web-scale text-dedup shape — with an
    ENGINE-NEUTRAL hash family, so the q_dedup_minhash oracle can check
    every pair.

    Returns (id_a, id_b, jaccard_dist) with id_a < id_b. Shingling is what
    keeps the collision rate honest: Jaccard over word-VOCABULARY sets
    degenerates on a shared-vocabulary corpus (measured: 68% of all doc
    pairs at sf0.1), while Jaccard over ``shingle_n``-word shingle sets
    keeps only true near-dup text. Docs too short to shingle have no
    signature and cannot pair — :func:`unshingleable_count` measures how
    many a corpus silently excludes.

    Shingle base hashes are Rabin-Karp ``poly_hash mod P`` (P = 2^31-1);
    the five permutations are ``(a_i·x + b_i) mod P`` with fixed published
    constants; a doc's signature is the five mins over its DISTINCT
    shingle-hash set. Candidates share ≥1 signature slot (five equi-joins:
    OR-amplification over five one-row bands); the exact
    Jaccard verify runs MAP-SIDE on each candidate row via
    ``array_intersect`` of the carried hash sets — no verification
    shuffle. DuckDB replays every step (the q_dedup_minhash oracle), so
    the output is hash-checkable: the division inter/union sees identical
    integers on both engines.

    Semantics: whitespace-RUN tokenization (boundary empties dropped —
    ``_run_split_size`` is the shared diagnostic), pairs with jaccard_dist
    STRICTLY below 1 - threshold, identical texts always candidates (equal
    signatures). A base-hash collision (two distinct shingles
    colliding mod P, ~n²/2^32 per doc pair) perturbs the ESTIMATE exactly
    like any MinHash collision and identically on both engines — parity
    is unaffected. Scale shape: signatures are one numpy pass per Arrow
    batch (:func:`minhash_portable_signatures`; no explode until banding),
    banding shuffles five (slot, value) keys per doc, linear in distinct
    texts under ``collapse=True``.

    ``collapse=True`` (the default) pairs one REPRESENTATIVE per distinct
    text and expands rep pairs back to member pairs by join — bit-identical
    output, since signatures depend only on the text. Without it a
    duplicate-heavy corpus makes every band bucket quadratic in copy
    multiplicity (the round-4 ``scale_rehearsal`` 30×-duplication run cost
    160× for 30× data). ``collapse=False`` keeps the naive formulation as
    the differential oracle for tests.
    """
    if collapse:
        return _collapsed_pairs(
            docs, id_col, text_col,
            naive_fn=lambda reps: minhash_portable_pairs(
                reps, id_col, text_col, jaccard_threshold, shingle_n,
                collapse=False,
            ),
            pairable=_run_split_size("vec") >= shingle_n,
            payload=F.lit(0.0), payload_name="jaccard_dist",
            emit_intra=jaccard_threshold < 1.0,
        )

    # localCheckpoint (r10): three consumers re-derive the signatures —
    # bands plus both verify sides — so lineage is truncated once here;
    # the established _collapse_groups discipline.
    sigs = minhash_portable_signatures(
        docs, id_col, text_col, shingle_n
    ).localCheckpoint(eager=False)
    bands = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("slot"),
                        F.col(f"__mh{i}").alias("val"),
                    )
                    for i in range(len(_MINHASH_COEFFS))
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.slot", "b.val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.slot") == F.col("b.slot"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    ha = sigs.select(F.col(id_col).alias("id_a"), F.col("__hs").alias("__hs_a"))
    hb = sigs.select(F.col(id_col).alias("id_b"), F.col("__hs").alias("__hs_b"))
    inter = F.size(F.array_intersect("__hs_a", "__hs_b"))
    union = F.size("__hs_a") + F.size("__hs_b") - inter
    # Threshold the UNROUNDED distance — the oracle filters the unrounded
    # value too and only rounds the emitted column, so both engines apply
    # the cut to identical quantities (r06 advice: filtering the rounded
    # value opened a latent 5e-9 boundary class, unreachable until
    # shingle-union sizes ~1e8 but divergent in principle).
    dist = F.lit(1.0) - inter.cast("double") / union.cast("double")
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(dist < 1.0 - jaccard_threshold)
        .select(
            "id_a",
            "id_b",
            F.round(dist, 8).alias("jaccard_dist"),
        )
    )


def simhash_portable_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """40-bit SimHash over 3-token SHINGLE hashes with an ENGINE-NEUTRAL
    hash family, so the q_dedup_simhash oracle can check every signature.

    Token hashes are Rabin-Karp ``poly_hash`` folds; a shingle hash folds
    its three token hashes with the same (·131 mod 2^40) step — every
    intermediate < 2^47, exact in BIGINT on both engines, so DuckDB can
    replay the signature bit-for-bit (the q_dedup_simhash oracle). The
    signature width follows the hash width: 40 vote counters, sign bits
    packed into one BIGINT. Docs with < 3 run-split tokens (and NULL text)
    get a NULL signature and cannot pair (measure the exclusion with
    :func:`unshingleable_count`); duplicate shingles vote per occurrence.
    Shingles, not tokens: summing per-TOKEN hash bits converges on any
    shared-vocabulary corpus (measured: 32 k Hamming ≤ 8 pairs from 5 000
    docs vs the true ~200-pair near-dup tail).

    Tokenization is JVM codegen; the token folds (:func:`_codepoint_folds`),
    shingle folds and 40 vote counters per shingle are one numpy pass per
    Arrow batch (mapInArrow). Vote counts stay < 2^31.
    """
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    pre = docs.select(F.col(id_col), toks.alias("__toks"))
    id_dt = pre.schema[id_col].dataType.simpleString()

    def signatures(batches):
        import numpy as np
        import pyarrow as pa

        mod = 1 << 40
        bit_weights = (np.int64(1) << np.arange(40, dtype=np.int64))

        for rb in batches:
            ids = rb.column(0)
            toks = rb.column(1)
            n_docs = rb.num_rows
            if n_docs == 0:
                continue
            null_doc = np.asarray(toks.is_null()) if toks.null_count else (
                np.zeros(n_docs, dtype=bool)
            )
            tok_counts = np.diff(np.asarray(toks.offsets))
            tok_counts = np.where(null_doc, 0, tok_counts)
            vals = toks.flatten()
            sig = np.zeros(n_docs, dtype=np.int64)
            has_sig = (~null_doc) & (tok_counts >= 3)
            if len(vals) and has_sig.any():
                th = _codepoint_folds(vals)
                doc_idx = np.repeat(np.arange(n_docs), tok_counts)
                if len(th) >= 3:
                    win_ok = doc_idx[:-2] == doc_idx[2:]
                    sh = (
                        ((th[:-2] * 131 + th[1:-1]) % mod) * 131 + th[2:]
                    ) % mod
                    sh = sh[win_ok]
                    sh_doc = doc_idx[:-2][win_ok]
                    if len(sh):
                        bits = (
                            ((sh[:, None] >> np.arange(40)) & 1) * 2 - 1
                        ).astype(np.int32)
                        # per-doc vote sums over contiguous doc segments
                        counts = np.bincount(sh_doc, minlength=n_docs)
                        nz = counts > 0
                        seg = np.zeros(n_docs, dtype=np.int64)
                        np.cumsum(counts[:-1], out=seg[1:])
                        votes = np.add.reduceat(bits, seg[nz], axis=0)
                        packed = ((votes >= 0) * bit_weights).sum(axis=1)
                        sig[nz] = packed
            out = pa.array(sig, type=pa.int64(), mask=~has_sig)
            yield pa.record_batch({id_col: ids, "simhash": out})

    return pre.mapInArrow(signatures, f"{id_col} {id_dt}, simhash bigint")


def simhash_portable_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    collapse: bool = True,
) -> DataFrame:
    """Near-dup pairs over :func:`simhash_portable_signatures`: 4×10-bit
    band candidates (pigeonhole: Hamming ≤ 3 always shares a band, so
    recall is exact for d ≤ 3 and probabilistic above), Hamming
    verification via ``bit_count(xor)``. Registered as q_dedup_simhash;
    thresholds read against the 40-bit space (the default max_hamming=8
    counts more of the corpus as near-dup than it would at width 64, which
    the precision property test bounds).

    ``collapse=True`` (the default) pairs one representative per distinct
    text and expands by join, linear in distinct texts (identical texts:
    Hamming 0, emitted when the doc can shingle and ``max_hamming >= 0``);
    ``collapse=False`` keeps the naive formulation as the differential
    oracle."""
    if collapse:
        return _collapsed_pairs(
            docs, id_col, text_col,
            naive_fn=lambda reps: simhash_portable_pairs(
                reps, id_col, text_col, max_hamming, collapse=False,
            ),
            pairable=_run_split_size("vec") >= 3,
            payload=F.lit(0).cast("int"), payload_name="hamming",
            emit_intra=max_hamming >= 0,
        )
    sigs = simhash_portable_signatures(docs, id_col, text_col).filter(
        F.col("simhash").isNotNull()
    )
    bands = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned("simhash", 10 * i)
                        .bitwiseAND(F.lit(0x3FF).cast("long"))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def _jaccard_pairable(n: int) -> Column:
    """Whether a collapse group's shared text ``vec`` can self-pair in the
    exact Jaccard families: these tokenize with a plain ``\\s+`` split (no
    run filter) and shingle via :func:`.text.shingles`, so a text has ≥ 1
    shingle ⇔ it has ≥ ``n`` split tokens."""
    return F.size(F.split(F.col("vec"), r"\s+")) >= n


def _exact_jaccard_pairs(
    candidates: Callable[[DataFrame, str, float], DataFrame],
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    collapse: bool,
) -> DataFrame:
    """The scaffold shared by the exact n-gram Jaccard operators: the
    exact-duplicate collapse, the shingle sets, and the ratio-and-threshold
    select around one family's candidate core.

    ``candidates(sh, id_col, threshold)`` receives the distinct
    ``(id_col, sh)`` shingle-hash rows (:func:`.text.shingle_hashes`) and
    returns one row per candidate pair: ``(doc_a, doc_b, inter, n_a, n_b)``
    with ``doc_a < doc_b``, the exact intersection size and both set sizes.
    Every candidate is then verified as ``inter / (n_a + n_b − inter) ≥
    threshold``, so the core decides only which pairs are ever looked at.

    ``collapse=True`` collapses byte-identical texts first (Jaccard depends
    only on the text; identical texts have Jaccard exactly 1.0 and pair iff
    they have ≥ 1 shingle) — without it every candidate join goes
    quadratic in copy multiplicity on a duplicate-heavy corpus, the same
    measured class as :func:`minhash_portable_pairs`. The naive form runs
    over one representative per text; self-Jaccard 1.0 is emitted by the
    inclusive ``jaccard >= threshold`` filter, which ``emit_intra``
    mirrors. ``collapse=False`` is the differential oracle.
    """
    if collapse:
        out = _collapsed_pairs(
            docs, id_col, text_col,
            naive_fn=lambda reps: _exact_jaccard_pairs(
                candidates, reps, id_col, text_col, n, threshold, collapse=False
            ).select(
                F.col("doc_a").alias("id_a"),
                F.col("doc_b").alias("id_b"),
                "jaccard",
            ),
            pairable=_jaccard_pairable(n),
            payload=F.lit(1.0), payload_name="jaccard",
            emit_intra=threshold <= 1.0,
        )
        return out.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "jaccard",
        )
    inter = candidates(shingle_hashes(docs, id_col, n, text_col), id_col, threshold)
    return inter.select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _blocking_candidates(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Shared-shingle blocking: every pair sharing ≥ 1 shingle hash that
    passes the length filter, counted in one pair aggregate.

    Shuffle-lean shape (r06): each doc's shingle-set size rides ON the
    shingle rows (window count over the distinct's own doc_id-compatible
    shuffle) and through the blocking join into the pair aggregate, so the
    candidate-pair frame — the big intermediate; 1.1M rows for 241 output
    pairs at sf0.1 — is aggregated once and never re-joined against the
    per-doc size table (which, being one row per doc, is NOT broadcastable
    at corpus scale)."""
    sh = sh.withColumn("n_sh", F.count("*").over(Window.partitionBy(id_col)))
    a, b = sh.alias("a"), sh.alias("b")
    # Length filter (r07, exact): J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥ t·max
    # and |A∩B| ≤ min, so min(n_a, n_b) ≥ t·max(n_a, n_b) is a necessary
    # condition — evaluated INSIDE the blocking join, it drops candidate
    # rows whose doc sizes are too mismatched before they reach the pair
    # aggregate. Free on the synthetic corpus (uniform doc sizes) but the
    # standard pruning lever on real crawls, where size spread is wide.
    size_ok = F.least(F.col("a.n_sh"), F.col("b.n_sh")).cast("double") >= (
        F.lit(float(threshold)) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok,
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(
            F.count("*").alias("inter"),
            F.min("a.n_sh").alias("n_a"),  # constant per doc; min = the value
            F.min("b.n_sh").alias("n_b"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    collapse: bool = True,
) -> DataFrame:
    """EXACT n-gram-set Jaccard near-dup pairs with shared-shingle blocking
    (:func:`_blocking_candidates` inside :func:`_exact_jaccard_pairs`).

    Only pairs sharing at least one shingle are materialized (the blocking
    join), so cost tracks collision volume, not n². Returns
    (doc_a, doc_b, jaccard) with jaccard >= threshold. ``collapse=True``
    (default) collapses byte-identical texts first; ``collapse=False`` is
    the differential oracle.
    """
    return _exact_jaccard_pairs(
        _blocking_candidates, docs, id_col, text_col, n, threshold, collapse
    )


def _prefix_candidates(sh: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """Prefix filtering: pairs whose smaller-id doc's rare-shingle prefix
    hits the other doc, each with its exact intersection size.

    The df ranking's tie-break is the shingle hash (r10): total and
    deterministic, and ranking order only changes candidate PRUNING, never
    the verified answer set."""
    freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "sh")
    ranked = sh.join(freq, "sh").withColumn(
        "n_sh", F.count("*").over(Window.partitionBy(id_col))
    ).withColumn("rn", F.row_number().over(w))
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select(id_col, "sh")

    cand = (
        prefix.alias("p")
        .join(
            sh.alias("f"),
            (F.col("p.sh") == F.col("f.sh"))
            & (F.col(f"p.{id_col}") < F.col(f"f.{id_col}")),
        )
        .select(
            F.col(f"p.{id_col}").alias("doc_a"), F.col(f"f.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    # Exact verification, PPJoin-style (r10): each doc's distinct shingle
    # hashes as ONE sorted array row, candidates join that table twice and
    # count |A∩B| with array_intersect — O(|A|+|B|) per pair. The previous
    # formulation re-joined candidates against the row-per-shingle table
    # (cand ⋈ sh on doc_a alone fans every pair out by ~|A| rows before the
    # (doc_b, sh) match), which the 10× near-dup rehearsal measured
    # super-linear (13.2× for 10× data, 45× true pairs): the pair×shingle
    # intermediate is the one frame that grows as candidates × doc length.
    # Identical answers: arrays hold exactly the distinct hash set the row
    # form held, and array_intersect counts distinct common elements.
    arrs = sh.groupBy(id_col).agg(
        F.array_sort(F.collect_list("sh")).alias("arr"),
        F.count("*").alias("n_sh"),
    )
    return (
        cand.join(
            arrs.select(
                F.col(id_col).alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col(id_col).alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("inter"),
            "n_a",
            "n_b",
        )
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    collapse: bool = True,
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (the ssjoin family:
    AllPairs/PPJoin's length-independent prefix; :func:`_prefix_candidates`
    inside :func:`_exact_jaccard_pairs`) — same answer as
    :func:`ngram_jaccard_pairs`, far fewer candidates on skewed shingles.

    If J(A,B) ≥ t then |A∩B| ≥ t·|A|, so B must hit one of A's
    (|A| − ⌈t·|A|⌉ + 1) globally RAREST shingles — the prefix. Shingles are
    ranked by corpus document frequency (ties by shingle hash: a total,
    deterministic order on both sides of the join); only the prefix of the
    smaller-id doc joins against full shingle sets, and each surviving
    candidate pair is verified with an exact intersection count. Blocking
    on every shared shingle pairs docs through their COMMONEST shingle;
    prefix filtering pairs them only through rare ones — at corpus scale
    that is the difference between the candidate join exploding on
    stop-shingles and staying near-linear. At a loose threshold the prefix
    is nearly the whole set (at 0.015 it is all of a doc's trigrams or one
    short), so it prunes little there. Candidate counts of both cores are
    compared in tests/test_llm_ops.py; the result itself is
    oracle-identical to the brute-force form.

    With ``collapse=True`` corpus document frequency is counted over
    DISTINCT texts, which only changes candidate pruning order, never the
    verified answer set.
    """
    return _exact_jaccard_pairs(
        _prefix_candidates, docs, id_col, text_col, n, threshold, collapse
    )


def embedding_cosine_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs in embedding space (cos >= threshold).

    All-pairs, one JVM ``cosine`` per pair (correct and fine to ~10⁴
    vectors): the reference the blocked scale path
    (:func:`embedding_cosine_dups_blocked`, which prunes cell pairs and
    then verifies exactly in BLAS) is tested against.
    """
    from ..functions.vector import cosine

    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("vec_a", "vec_b").alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _collapse_exact(
    df: DataFrame, id_col: str, vec_col: str, group_cols: tuple[str, ...] = ()
):
    """Byte-identical-vector collapse shared by the fuzzy-dedup family.

    Returns ``(groups, membership)``: ``groups`` has one row per distinct
    ``(group_cols..., vec)`` with the min-id representative ``rep`` and
    member count ``cnt``; ``membership`` maps every ``id`` to its rep.
    Join-based, never collect_list — a boilerplate vector with millions of
    copies stays row-distributed and AQE-skew-splittable. NULL vectors
    keep their group row but drop from membership at the inner join (a
    cosine against NULL never passes a threshold anyway); grouping relies
    on Spark's normalizenanandzero (NaN==NaN, -0.0==0.0) exactly like the
    callers' pair semantics. localCheckpoint truncates lineage so each
    downstream branch reuses the shuffle instead of re-executing it.
    """
    base = df.select(
        *group_cols, F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    groups = (
        base.groupBy(*group_cols, "vec")
        .agg(F.min("id").alias("rep"), F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    membership = (
        base.join(groups.select(*group_cols, "vec", "rep"), [*group_cols, "vec"])
        .select("id", "rep")
        .localCheckpoint(eager=False)
    )
    return groups, membership


def _cosine_matches(vec_a, vec_b, ids_a, ids_b, threshold: float, ordered: bool):
    """Left/right row pairs with ``cosine(a, b) >= threshold``: the numpy
    scoring kernel behind both Arrow pair verifies.

    ``vec_*`` / ``ids_*`` are one cogroup side's Arrow list vectors and ids
    (chunked arrays). Returns numpy ``(ii, jj, cos)``: row indices into each
    side and the pair cosine. The filter is :func:`functions.vector.cosine`
    ``>= threshold`` as Spark evaluates it:

    - NaN cosines are KEPT (Spark orders NaN above any threshold);
    - zero denominators drop (``try_divide`` gives NULL);
    - NULL vectors, vectors with a NULL element and NULL ids drop (the fold
      is NULL; a NULL id never joins back to its members);
    - vectors of unequal length never pair (``zip_with`` pads with NULL), so
      rows are blocked by length — any width, 0 included — and each block
      is one level-3 BLAS matmul, its score matrix chunked to ≤2²⁴ doubles
      so an oversized group pair bounds worker memory instead of OOMing;
    - ``ordered`` keeps only ``id_a < id_b`` under the id type's Spark order
      (Arrow's dense rank: byte order for strings, NaN last), which dedups
      the pairs of one group scored against itself.

    Cosines differ from the JVM fold only in float-summation order (BLAS
    blocking and numpy's norm sum vs strict index order, ~1e-15), so a
    threshold decision can flip only for a pair that close to the cut.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def rows(vec, ids):
        # Flat values, row starts, row lengths and the rows that can pair.
        vec = vec.combine_chunks()
        offs = np.asarray(vec.offsets)
        vals = vec.values
        ok = np.asarray(vec.is_valid()) & np.asarray(ids.is_valid())
        if vals.null_count:
            nulls = np.concatenate(([0], np.cumsum(np.asarray(vals.is_null()))))
            ok &= nulls[offs[1:]] == nulls[offs[:-1]]
        flat = np.asarray(vals.to_numpy(zero_copy_only=False), dtype=np.float64)
        return flat, offs[:-1], np.diff(offs), ok

    fa, sa, la, oka = rows(vec_a, ids_a)
    fb, sb, lb, okb = rows(vec_b, ids_b)
    if ordered:
        rank = pc.rank(
            pa.chunked_array(ids_a.chunks + ids_b.chunks, type=ids_a.type),
            tiebreaker="dense",
        ).to_numpy()
        ra, rb = rank[: len(ids_a)], rank[len(ids_a) :]
    ii, jj, cs = [np.zeros(0, np.intp)], [np.zeros(0, np.intp)], [np.zeros(0)]
    for length in np.intersect1d(la[oka], lb[okb]):
        ia = np.nonzero(oka & (la == length))[0]
        ib = np.nonzero(okb & (lb == length))[0]
        ma = fa[sa[ia, None] + np.arange(length)]
        mb = fb[sb[ib, None] + np.arange(length)]
        with np.errstate(all="ignore"):
            na_, nb_ = np.sqrt((ma * ma).sum(axis=1)), np.sqrt((mb * mb).sum(axis=1))
        step = max(1, (1 << 24) // len(ia))
        for j0 in range(0, len(ib), step):
            j = ib[j0 : j0 + step]
            with np.errstate(all="ignore"):
                denom = np.outer(na_, nb_[j0 : j0 + step])
                cos = (ma @ mb[j0 : j0 + step].T) / denom
                keep = ((cos >= threshold) | np.isnan(cos)) & (denom != 0.0)
            if ordered:
                keep &= ra[ia, None] < rb[None, j]
            i, k = np.nonzero(keep)
            ii.append(ia[i])
            jj.append(j[k])
            cs.append(cos[i, k])
    return np.concatenate(ii), np.concatenate(jj), np.concatenate(cs)


def _arrow_pair_verify(
    assigned: DataFrame, edge_df: DataFrame, threshold: float
) -> DataFrame:
    """Exact cosine verify of the surviving cell pairs: one cogroup per
    cell pair, scored by :func:`_cosine_matches`.

    ``assigned`` has one row per representative (cell, id, vec); ``edge_df``
    the unpruned (cell_a ≤ cell_b) pairs. Returns (id_a, id_b, cos) rep
    pairs. Cross-cell pairs meet exactly once (one edge per cell pair);
    same-cell pairs are deduped by id order. Each cell's vectors cross the
    Python boundary once per incident edge as Arrow batches — the fan-out a
    JVM join's exchange would pay — and the O(pairs) dot work runs as BLAS.
    """
    # Distinct column names per side: both derive from the same plan, and
    # identically-named columns would trip the ambiguous-self-join check
    # at the cogroup.
    lt = assigned.select(
        F.col("cell").alias("cell_a"), F.col("id").alias("ida"), F.col("vec").alias("veca")
    ).join(F.broadcast(edge_df), "cell_a")
    rt = assigned.select(
        F.col("cell").alias("cell_b"), F.col("id").alias("idb"), F.col("vec").alias("vecb")
    ).join(F.broadcast(edge_df), "cell_b")
    id_dt = assigned.schema["id"].dataType.simpleString()

    def verify(left, right):
        import pyarrow as pa

        same_cell = (
            left.num_rows > 0
            and left["cell_a"][0].as_py() == left["cell_b"][0].as_py()
        )
        ii, jj, cos = _cosine_matches(
            left["veca"], right["vecb"], left["ida"], right["idb"],
            threshold, ordered=same_cell,
        )
        return pa.table(
            {
                "id_a": left["ida"].take(ii),
                "id_b": right["idb"].take(jj),
                "cos": pa.array(cos, pa.float64()),
            }
        )

    return (
        lt.groupBy("cell_a", "cell_b")
        .cogroup(rt.groupBy("cell_a", "cell_b"))
        .applyInArrow(verify, f"id_a {id_dt}, id_b {id_dt}, cos double")
    )


def _arrow_cluster_pair_stats(groups: DataFrame, threshold: float) -> DataFrame:
    """Within-cluster rep-pair matching: one cogroup per cluster, scored by
    :func:`_cosine_matches`.

    Input: the collapse's ``groups`` frame (cluster, rep, vec, cnt).
    Output: matched pairs (cluster, rep_a, rep_b, cnt_a, cnt_b) with
    ``rep_a < rep_b`` — exactly the columns the stats arithmetic consumes
    (the pair cosine itself is never read downstream).
    """
    lt = groups.select(
        "cluster",
        F.col("rep").alias("rep_a"),
        F.col("vec").alias("va"),
        F.col("cnt").alias("cnt_a"),
    )
    rt = groups.select(
        "cluster",
        F.col("rep").alias("rep_b"),
        F.col("vec").alias("vb"),
        F.col("cnt").alias("cnt_b"),
    )
    cl_dt = groups.schema["cluster"].dataType.simpleString()
    rep_dt = groups.schema["rep"].dataType.simpleString()
    cnt_dt = groups.schema["cnt"].dataType.simpleString()

    def verify(left, right):
        import pyarrow as pa

        ii, jj, _ = _cosine_matches(
            left["va"], right["vb"], left["rep_a"], right["rep_b"],
            threshold, ordered=True,
        )
        return pa.table(
            {
                "cluster": left["cluster"].take(ii),
                "rep_a": left["rep_a"].take(ii),
                "rep_b": right["rep_b"].take(jj),
                "cnt_a": left["cnt_a"].take(ii),
                "cnt_b": right["cnt_b"].take(jj),
            }
        )

    return (
        lt.groupBy("cluster")
        .cogroup(rt.groupBy("cluster"))
        .applyInArrow(
            verify,
            f"cluster {cl_dt}, rep_a {rep_dt}, rep_b {rep_dt}, "
            f"cnt_a {cnt_dt}, cnt_b {cnt_dt}",
        )
    )


def embedding_cosine_dups_blocked(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_sign_bits: int = 6,
) -> DataFrame:
    """Exact near-dup pairs (cos ≥ threshold) WITHOUT the all-pairs join.

    Provably the same answer set as :func:`embedding_cosine_dups`, via
    triangle-inequality cell blocking on the unit sphere:

    1. Every vector is L2-normalized; ``cos(a,b) ≥ t ⇔ ‖â−b̂‖ ≤ d`` with
       ``d = √(2−2t)``, so the cosine cut is a Euclidean ball.
    2. Cells = sign pattern of the first ``n_sign_bits`` coordinates (any
       deterministic partition works — EXACTNESS NEVER DEPENDS ON THE
       PARTITION, only pruning quality does). Cell count is ALSO the verify
       join's parallelism (cells are its shuffle keys), so raise the bit
       count with data volume: 2^6 = 64 cells here; a cluster run wants
       cells ≳ executor-core count.
    3. Per cell: centroid ``c`` (mean of normalized members) and radius
       ``r = max ‖v̂−c‖``. A cell pair (i, j) can contain a matching pair
       only if ``‖cᵢ−cⱼ‖ ≤ rᵢ+rⱼ+d`` (triangle inequality: any a∈i, b∈j
       has ``‖â−b̂‖ ≥ ‖cᵢ−cⱼ‖−rᵢ−rⱼ``); all other cell pairs are pruned
       with proof, never scanned.
    4. The surviving cell pairs get one exact cosine verify: each cell pair
       is a cogroup whose two sides are scored by one BLAS matmul
       (``_cosine_matches``) under the all-pairs form's filter semantics —
       NaN kept, zero denominator / NULL / unequal length dropped. The
       answer set is the all-pairs one; cosines differ from the JVM fold
       only in summation order (~1e-15, against q_dedup_embed's 5e-3
       threshold margin).

    Scale shape: no BNLJ anywhere — cell stats are two shuffles on the cell
    key, the cell-pair table is O(cells²) tiny rows computed from a bounded
    ``collect()`` (cells ≤ 2^n_sign_bits, same class as the repo's other
    bounded collects), and the verify is a broadcast of that table plus one
    cogroup shuffle on the cell-pair key. With clustered real-world
    embeddings and a realistic threshold, pruning discards most cell pairs;
    on an adversarial uniform corpus it degrades to the same total
    comparisons as all-pairs but still executes as shuffles, never a nested
    loop, and as matmuls, never a per-pair expression eval.

    Round-4 (found by ``scripts/scale_rehearsal.py``, which replicates the
    corpus so every vector has N−1 byte-identical copies): cell blocking
    cannot subdivide IDENTICAL vectors, so a duplicate-heavy corpus made
    the within-cell verify quadratic in the duplicate count. Hence the
    exact-duplicate collapse first, shared with the text families through
    ``_collapsed_pairs``: the blocked pipeline runs over one REPRESENTATIVE
    per distinct vector (min id), rep pairs expand back to member pairs
    through an ``(id, rep)`` membership table — the member vectors ARE the
    rep vectors, so they inherit the rep pair's cosine — and intra-group
    pairs compute the self-cosine once per DISTINCT VECTOR and enumerate
    member pairs with plain joins. The expansion is join-based, never
    collect_list+explode, so a boilerplate vector with millions of copies
    stays AQE-skew-splittable instead of fanning out in one task.
    """
    import math

    from ..functions.vector import cosine, l2_normalize

    d_cut = math.sqrt(max(0.0, 2.0 - 2.0 * threshold)) + 1e-9

    def blocked_rep_pairs(reps: DataFrame) -> DataFrame:
        assigned = reps.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            l2_normalize(vec_col).alias("nv"),
        )
        # Cell id from coordinate signs — pure projection, no shuffle. F.get
        # (not []) so a vector SHORTER than n_sign_bits contributes NULL > 0
        # = false (bit 0) instead of an ANSI INVALID_ARRAY_INDEX — any
        # deterministic assignment is valid, crashing is not.
        cell = F.lit(0)
        for p in range(n_sign_bits):
            cell = cell + F.when(
                F.get(F.col("nv"), p) > 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
        assigned = assigned.withColumn("cell", cell)

        # Centroid per cell via posexplode → (cell, pos) mean → re-assembled
        # array (ordered collect_list — the repo's standard array-rebuild).
        cent = (
            assigned.select("cell", F.posexplode("nv").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
        dist_to_cent = F.sqrt(
            F.aggregate(
                F.zip_with("nv", "centroid", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        stats = (
            assigned.join(F.broadcast(cent), "cell")
            .groupBy("cell")
            .agg(F.first("centroid").alias("centroid"), F.max(dist_to_cent).alias("r"))
        )

        # Bounded collect (≤ 2^n_sign_bits rows): prune cell pairs
        # driver-side. EXACTNESS RULE: a cell pair may be dropped only when
        # the triangle inequality PROVES no member pair can match. NaN/NULL
        # cell stats (vectors with NaN components, Inf vectors whose
        # normalization is NaN, all-degenerate cells) prove nothing — and
        # Spark's comparison semantics treat a NaN cosine as greater than
        # ANY threshold, so the all-pairs oracle KEEPS such pairs. Hence
        # `not (cc > bound)` (keep on unprovable), never `cc <= bound`
        # (Python NaN comparisons are False, which would silently prune
        # pairs the oracle emits).
        nan = float("nan")
        cells = [(row["cell"], row["centroid"], row["r"]) for row in stats.collect()]
        edges = []
        for i, (ci, vi, ri) in enumerate(cells):
            for cj, vj, rj in cells[i:]:
                cc = math.sqrt(
                    sum(
                        ((nan if a is None else a) - (nan if b is None else b)) ** 2
                        for a, b in zip(vi, vj)
                    )
                )
                bound = (nan if ri is None else ri) + (nan if rj is None else rj)
                if not (cc > bound + d_cut + 1e-9):
                    edges.append((min(ci, cj), max(ci, cj)))
        edge_df = embeddings.sparkSession.createDataFrame(
            edges, "cell_a int, cell_b int"
        )
        return _arrow_pair_verify(assigned, edge_df, threshold)

    # Intra-group pairs: byte-identical vectors trivially satisfy any sane
    # threshold, but the self-cosine is still COMPUTED (once per distinct
    # vector, the expression the all-pairs form evaluates on two identical
    # arrays) and the threshold applied before the enumeration joins, so
    # threshold > self-cosine and zero vectors match the all-pairs oracle.
    self_cos = cosine("vec", "vec")
    return _collapsed_pairs(
        embeddings, id_col, vec_col,
        naive_fn=blocked_rep_pairs,
        pairable=self_cos >= threshold,
        payload=self_cos, payload_name="cos",
        emit_intra=True,
    )


def semantic_dedup_stats(
    vecs: DataFrame,
    threshold: float = 0.28,
    id_col: str = "vec_id",
    vec_col: str = "v",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Per-cluster SemDeDup stats without enumerating duplicate pairs.

    Input: one row per vector with a precomputed cluster assignment
    (``kmeans_lloyd`` output joined back to the vectors). Output: one row
    per cluster — ``n_members``, ``n_dup_pairs`` (within-cluster pairs with
    cos ≥ threshold), ``n_to_drop`` (distinct higher-id members of those
    pairs) — integer-identical to the naive within-cluster self-join +
    ``count`` / ``countDistinct(id_b)``.

    Why not the naive form: a within-cluster self-join is quadratic in
    duplicate MULTIPLICITY — a boilerplate vector with m byte-identical
    copies contributes m² comparison rows even though they carry one
    distinct cosine. Since k-means assignment is a deterministic argmin of
    the vector VALUE, identical vectors always share a cluster, so the
    group structure collapses exactly:

    - distinct-vector groups g (size s_g, rep = min id) pair up once per
      DISTINCT pair; a matching cross pair contributes ``s_g·s_h`` member
      pairs, a self-matching group (cos(v,v) ≥ t, i.e. any non-degenerate
      vector) contributes ``C(s_g, 2)`` — pure arithmetic, no enumeration.
    - a member m of group g is a drop candidate (appears as the higher id
      of some pair) iff some matched partner has an id below m: cross
      partners reduce to ``min(rep_h)`` over matched groups h, and a
      self-matched group drops every member except its rep. One linear
      pass over the membership table decides this per member.

    Scale shape: the only joins are groupBy/join on the vector bytes (the
    same collapse as ``embedding_cosine_dups_blocked``) and rep-level
    pairing within clusters — O((distinct/k)²) per cluster, which is the
    SemDeDup contract, but never quadratic in duplicate count. The pairing
    is one cogroup per cluster scored by one BLAS matmul
    (``_cosine_matches``) under the naive filter's semantics, so the counts
    are the naive ones; cosines differ from the JVM fold only in summation
    order (~1e-15, against q_dedup_semantic's 5.1e-6 threshold margin).
    """
    from ..functions.vector import cosine

    # Collapse keyed on (cluster, vec), not the vector alone: the
    # operator's contract is ANY precomputed assignment, and one that
    # splits an identical vector across clusters (ties, external labels)
    # must not fan a member out to every same-valued group.
    base = vecs.select(
        F.col(cluster_col).alias("cluster"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    groups, membership = _collapse_exact(
        base, "id", "vec", group_cols=("cluster",)
    )

    rep_pairs = _arrow_cluster_pair_stats(groups, threshold).localCheckpoint(
        eager=False
    )
    # Self-matching groups: the cosine is still COMPUTED (once per distinct
    # vector) and the threshold applied, so zero vectors (NULL cosine) and
    # threshold > self-cosine edge cases behave exactly like the naive
    # enumeration.
    selfm = (
        groups.withColumn("cos", cosine("vec", "vec"))
        .filter(F.col("cos") >= threshold)
        .select("cluster", "rep", "cnt")
        .localCheckpoint(eager=False)
    )

    crossp = rep_pairs.groupBy("cluster").agg(
        F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("n_cross")
    )
    # Integer `div`, never `/`: the float division would round the exact
    # long product through a double, losing integer identity with the
    # naive enumeration once cnt*(cnt-1) passes 2^53 — precisely the
    # mega-duplicate regime this operator exists for. (The long product
    # itself overflows ANSI-loud past cnt ~3e9, the repo's documented
    # fixed-point bound class.)
    intrap = selfm.groupBy("cluster").agg(
        F.sum(F.expr("cnt * (cnt - 1) div 2")).alias("n_intra")
    )

    # min matched-partner rep per group (reps are globally unique ids).
    pmin = (
        rep_pairs.select(F.col("rep_a").alias("rep"), F.col("rep_b").alias("partner"))
        .unionByName(
            rep_pairs.select(
                F.col("rep_b").alias("rep"), F.col("rep_a").alias("partner")
            )
        )
        .groupBy("rep")
        .agg(F.min("partner").alias("pmin"))
    )
    gmeta = (
        groups.select("cluster", "rep")
        .join(pmin, "rep", "left")
        .join(
            selfm.select("rep", F.lit(True).alias("selfm")), "rep", "left"
        )
    )
    dropped = (
        membership.join(gmeta, "rep")
        .filter(
            (F.col("pmin") < F.col("id"))
            | (F.coalesce(F.col("selfm"), F.lit(False)) & (F.col("id") > F.col("rep")))
        )
        .groupBy("cluster")
        .agg(F.count("*").alias("n_to_drop"))
    )

    members = base.groupBy("cluster").agg(F.count("*").alias("n_members"))
    return (
        members.join(crossp, "cluster", "left")
        .join(intrap, "cluster", "left")
        .join(dropped, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            (
                F.coalesce("n_cross", F.lit(0)) + F.coalesce("n_intra", F.lit(0))
            ).alias("n_dup_pairs"),
            F.coalesce("n_to_drop", F.lit(0)).alias("n_to_drop"),
        )
    )


#: connected_components switches to an exact driver-side union-find when
#: the symmetric edge list is at most this many rows: below it, the
#: distributed loop's 2-jobs-per-round fixed overhead costs more than the
#: entire computation. 300k rows ≈ 9 MB collected / ~0.2 s of union-find —
#: comfortably bounded driver work (the rule: O(model)-sized collects
#: only), and raising it from the r07 100k converted q_dedup_clusters'
#: sf0.1 graph (188k sym edges, one giant component at threshold 0.015)
#: from a 3-round distributed loop to one collect: 5.29 → 3.96 s measured
#: (r10).
_CC_DRIVER_CUTOVER = 300_000


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list → (node, component)
    with component = the smallest node id reachable from ``node``.

    The clustering step of fuzzy dedup: near-dup PAIRS become GROUPS, and one
    canonical doc survives per group. Spark has no native CC; this is
    iterative smallest-label propagation WITH pointer jumping in plain
    DataFrame ops — each round every node takes min(own label, neighbors'
    labels, label-of-its-label), so label paths compress exponentially and
    rounds ≤ O(log diameter) (≤ ``max_iter`` hard stop, which RAISES if
    ever hit rather than returning silently-truncated components). Graphs
    at or under ``_CC_DRIVER_CUTOVER`` edges take an exact driver-side
    union-find instead (bounded collect; per-round job overhead dominates
    tiny graphs).

    Scale shape: two shuffles per round keyed on node id (neighbor-min and
    the pointer jump); labels frame is (n_nodes × 2) longs.
    localCheckpoint() per round truncates the lineage (an iterative plan
    otherwise grows exponentially in the optimizer). The driver-side loop
    is control flow only — per-round work is fully distributed;
    convergence is one scalar count per round.
    """
    # Checkpoint the symmetric edge list: it is scanned every round, and
    # its lineage is the caller's full pair-generation pipeline (for fuzzy
    # dedup, a MinHash-LSH join) — without the checkpoint that whole
    # pipeline re-executes per round (measured: q_dedup_clusters ~9 s →
    # ~4 s at sf0.01). eager=False (r10): materialization rides the probe
    # collect below instead of being its own job.
    # Symmetric closure via one generator over each edge row (r10), not a
    # union of two projections: the union referenced the caller's pair
    # pipeline TWICE in one plan — exchange reuse dedupes the shuffles, but
    # every post-shuffle stage of the pair aggregation still ran twice and
    # the plan carried two copies of the subtree. explode reads each edge
    # once and emits both directions in the same pass.
    sym = (
        edges.selectExpr(
            f"explode(array(named_struct('a', {src}, 'b', {dst}),"
            f" named_struct('a', {dst}, 'b', {src}))) AS e"
        )
        .select("e.a", "e.b")
        .distinct()
    ).localCheckpoint(eager=False)

    # Small-graph fast path (r07): near-dup PAIR graphs are tiny relative
    # to their corpora (241 pairs from 5k docs at sf0.1; pair volume is
    # what the blocking/banding stages exist to bound), while the
    # propagation loop below costs 2 fixed-overhead jobs PER ROUND
    # regardless of size. Under the cutover the component computation is a
    # BOUNDED collect (≤ ~3 MB) + exact union-find on the driver — the
    # same bounded-model-state discipline as the k-means centroid collect.
    # Large graphs (a duplicate-heavy crawl) keep the fully distributed
    # loop. r10: the size test and the fast-path collect are ONE
    # ``limit(cutover+1).collect()`` probe — when it returns ≤ cutover
    # rows those rows ARE the whole edge list, so the former
    # eager-materialize + count() + collect() trio (three blocking driver
    # round-trips per CC call, all fixed overhead at sf scale) collapses
    # to a single job; a large graph stops ACCUMULATING at cutover+1 rows,
    # but the probe job itself still materializes every partition of the
    # lazy checkpoint (LocalRDDCheckpointData.doCheckpoint computes the
    # missing partitions when the probe job finishes), so the labels
    # derivation right after reads cached partitions — each computed
    # exactly once, at the probe, not at the labels checkpoint (r10 advice).
    probe = sym.limit(_CC_DRIVER_CUTOVER + 1).collect()
    if len(probe) <= _CC_DRIVER_CUTOVER:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in probe:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN label so the result is bit-identical to the
                # propagation loop's smallest-reachable-id contract
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        spark = edges.sparkSession
        schema = sym.select(
            F.col("a").alias("node"), F.col("b").alias("component")
        ).schema
        # Bounded slice count (r11): createDataFrame over a local list
        # parallelizes into defaultParallelism slices — 32 near-empty tasks
        # for a label table this small, re-dispatched by every consumer
        # stage. ~50k rows per slice keeps the task count proportional to
        # the (bounded) data instead of to the core count.
        n_slices = max(1, min(
            spark.sparkContext.defaultParallelism, 1 + len(out) // 50_000
        ))
        return spark.createDataFrame(
            spark.sparkContext.parallelize(out, n_slices), schema=schema
        )

    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    ).localCheckpoint(eager=True)

    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        half = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("component").alias("old"),
            F.least(
                F.col("component"),
                F.coalesce("nbr_component", F.col("component")),
            ).alias("mid"),
        )
        # Pointer jump (r07): additionally take the label OF the label —
        # l(x) ← min(l(x), l(l(x))). Labels are node ids, so the jump is a
        # labels⋈labels equi-join; it compresses label paths exponentially,
        # turning O(diameter) rounds into O(log diameter). Without it a
        # 60-node chain silently TRUNCATED at max_iter=25 and returned
        # wrong components (found by the r07 fast-path equivalence test) —
        # real near-dup graphs are dense/low-diameter, which is why the
        # bug never bit, but chains are legal inputs.
        ptr = half.select(
            F.col("node").alias("mid_node"), F.col("mid").alias("jump")
        )
        # eager=False: the convergence count below is the action that
        # materializes the checkpoint — one job per round instead of two.
        stepped = (
            half.join(ptr, half["mid"] == ptr["mid_node"], "left")
            .select(
                "node",
                F.least("mid", F.coalesce("jump", "mid")).alias("component"),
                (
                    F.least("mid", F.coalesce("jump", "mid")) < F.col("old")
                ).alias("chg"),
            )
        ).localCheckpoint(eager=False)
        changed = stepped.filter(F.col("chg")).count()
        labels = stepped.select("node", "component")
        if changed == 0:
            break
    if changed != 0:
        # 2^max_iter effective hops — unreachable for any physical graph;
        # if it ever trips, returning silently-wrong labels is the one
        # unacceptable outcome for a dedup keep/drop decision.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds"
        )
    return labels


def dedup_clusters(
    pair_df: DataFrame,
    docs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy-dedup end game: near-dup pairs → components → one row per doc
    with its cluster id, cluster size, and whether it is the canonical
    survivor (smallest id in its cluster). Docs in no pair are their own
    singleton cluster."""
    cc = connected_components(pair_df, src=id_a, dst=id_b)
    return (
        docs.select(id_col)
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .withColumn("is_canonical", F.col(id_col) == F.min(id_col).over(Window.partitionBy("cluster_id")))
    )


def ngram_dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    pre_collapsed: bool = False,
) -> DataFrame:
    """:func:`dedup_clusters` over :func:`ngram_jaccard_pairs` without ever
    materializing member-level pairs.

    A duplicate-heavy corpus makes the member pair set quadratic in copy
    multiplicity (30-way copies → 435 within-group pairs per distinct
    text) — at the round-4 30×-duplication rehearsal the member-level edge
    list OOM'd the 8 GB test heap before label propagation even started.
    But byte-identical docs share their representative's connectivity
    exactly, so the components are computed on the DISTINCT-TEXT rep graph
    and the labels expanded to members with one join:

    - members of a pairable group (a text that can self-pair in the naive
      pair formulation: ≥ ``n`` tokens, and the inclusive filter admits
      self-Jaccard 1.0) are all mutually connected and inherit the
      rep-graph component — whose label is the min member id reachable,
      because ``_collapse_exact`` picks rep = min member id per group and
      the rep graph's component label is the min rep reachable;
    - members of an UNpairable group (too short to shingle) have no pairs
      at all in the naive form — each is its own singleton, INCLUDING the
      rep;
    - NULL-text docs never enter membership and fall out as singletons via
      the caller-facing left join below.

    The rep pairs and the pairable predicate both derive from the one
    ``(n, threshold)``: a pair function and a predicate that disagree on
    tokenization or ``n`` silently mislabel clusters (pairs at ``n=2``
    with the predicate still requiring 3 tokens force duplicated 2-token
    docs into singletons with no error).

    ``pre_collapsed=True`` (r11) declares the caller already removed
    byte-identical texts (e.g. curate_corpus clusters the output of its own
    exact-dedup stage): groups/membership become NARROW identity
    projections — every doc is its own singleton group — skipping
    ``_collapse_exact``'s two full-text shuffles (the groupBy on the text
    bytes and the join back on them), which at corpus scale are the two
    heaviest exchanges of the whole build (guide §2.4: remove shuffles the
    data's provenance proves redundant). Output is bit-identical for
    distinct-text input; if the promise is broken the n-gram family still
    CLUSTERS correctly (identical texts pair at Jaccard 1.0 through the
    naive join) — the flag only forfeits the quadratic-multiplicity
    protection the collapse exists to provide.
    """
    if pre_collapsed:
        groups = docs.select(
            F.col(id_col).alias("rep"),
            F.col(text_col).alias("vec"),
            F.lit(1).alias("cnt"),
        )
        # _collapse_exact drops NULL-vec docs from membership (they are
        # outside the pairing domain); mirror that so both paths feed the
        # member labeling identically — NULL-text docs fall out as
        # singletons at the caller-facing left join below either way.
        membership = docs.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("id"), F.col(id_col).alias("rep")
        )
    else:
        groups, membership = _collapse_exact(docs, id_col, text_col)
    reps = groups.select(
        F.col("rep").alias(id_col), F.col("vec").alias(text_col)
    )
    rep_pairs = ngram_jaccard_pairs(
        reps, id_col, text_col, n, threshold, collapse=False
    ).select("doc_a", "doc_b")
    cc = connected_components(rep_pairs, src="doc_a", dst="doc_b")
    # self-Jaccard is exactly 1.0: the same boundary the pair families'
    # emit_intra encodes.
    pairable = _jaccard_pairable(n) & F.lit(threshold <= 1.0)
    member_lab = (
        membership.join(groups.select("rep", pairable.alias("__ok")), "rep")
        .join(cc.withColumnRenamed("node", "rep"), "rep", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(
                F.col("__ok"), F.coalesce("component", F.col("rep"))
            )
            .otherwise(F.col("id"))
            .alias("__cluster"),
        )
    )
    return (
        docs.select(id_col)
        .join(member_lab, id_col, "left")
        .select(
            id_col,
            F.coalesce("__cluster", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        # is_canonical = (id == cluster label), provably identical to the
        # min-id window (r11): every cluster label this operator produces
        # IS the minimum member id of its cluster — CC labels are the
        # smallest reachable rep, reps are the min member id of their
        # group, and unpairable/unlabeled docs carry their own id. Writing
        # it as a comparison instead of min().over(...) lets Catalyst PRUNE
        # the whole member-level window exchange+sort for consumers that
        # never read cluster_size (curate_corpus's canonical semi-join) —
        # the differential tests against dedup_clusters (which keeps the
        # naive window form) pin the equivalence.
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )
