"""Property checks for LLM-pipeline ops with no SQL oracle (SURVEY §5.2/§5.4):
approximate indexes are checked against their exact counterparts, hash-based
signatures for determinism and metric invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_asana_spark import catalog
from etl_asana_spark.operators import dedup, similarity
from etl_asana_spark.registry import load_tables


def _exact_topk_ids(spark, sf_dir, k=5):
    t = load_tables(spark, sf_dir)
    q = (
        t["embeddings"]
        .filter(F.col("vec_id") == 0)
        .select(F.lit(0).alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    rows = similarity.cosine_topk(t["embeddings"], q, k=k).collect()
    return [r["vec_id"] for r in rows]


def test_ann_recall_vs_exact(spark, sf_dir):
    exact = set(_exact_topk_ids(spark, sf_dir))
    ann = {r["vec_id"] for r in catalog.queries()["q_sim_ann"](spark, sf_dir).collect()}
    assert 0 in ann  # the probe itself is its own nearest neighbor
    assert len(exact & ann) >= 3  # seeded LSH recall floor on 5 candidates


def test_ivf_recall_vs_exact(spark, sf_dir):
    exact = set(_exact_topk_ids(spark, sf_dir))
    ivf = {r["vec_id"] for r in catalog.queries()["q_sim_ivf"](spark, sf_dir).collect()}
    assert 0 in ivf
    assert len(exact & ivf) >= 3  # nprobe=4/16 recall floor, fixed seed


#: Adversarial text rows for the signature kernels: astral characters,
#: tab/newline/multi-space runs, the empty string, NULL text and docs with
#: fewer than 3 tokens (no shingles -> excluded / NULL signature).
_ADVERSARIAL_DOCS = [
    (1, "\U0001F600 emoji soup \U0001F600 emoji soup again"),
    (2, "\U0001F600 emoji soup \U0001F600 emoji soup again!"),
    (3, "tab\tand\nnewline  and   runs of spaces here twice over"),
    (4, "tab\tand\nnewline  and   runs of spaces here twice more"),
    (5, "tab\tand\nnewline  runs   everywhere now"),
    (6, ""), (7, None), (8, "short one"), (9, "two toks"),
]


def _signature_cases(spark, sf_dir, duck):
    """(label, Spark documents frame, DuckDB connection holding the same
    rows as ``documents``): the corpus, the adversarial rows, a zero-row
    frame and an all-NULL-text frame."""
    import duckdb

    cases = [("corpus", load_tables(spark, sf_dir)["documents"], duck)]
    extra = {
        "adversarial": _ADVERSARIAL_DOCS,
        "zero_rows": [],
        "all_null_text": [(1, None), (2, None), (3, None)],
    }
    for label, rows in extra.items():
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)"
        )
        if rows:
            con.executemany("INSERT INTO documents VALUES (?, ?, 'en')", rows)
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        cases.append((label, df.withColumn("lang", F.lit("en")), con))
    return cases


def _py_poly_hash(s):
    """Scalar reference of the Rabin-Karp code-point fold."""
    h = 0
    for c in s:
        h = (h * 131 + ord(c)) % (1 << 40)
    return h


def _py_tokens(text):
    """Whitespace-RUN tokens; Java's \\s (Spark's split) is exactly this
    ASCII class."""
    import re

    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t]


def _py_minhash(text):
    """Scalar reference of the portable MinHash signature: (distinct
    shingle hashes in first-occurrence order, five permutation minima),
    or None for NULL text and docs with fewer than 3 tokens."""
    p = dedup._MINHASH_P
    toks = [] if text is None else _py_tokens(text)
    if len(toks) < 3:
        return None
    shingles = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    hs = list(dict.fromkeys(_py_poly_hash(s) % p for s in shingles))
    return hs, [min((h * a + b) % p for h in hs) for a, b in dedup._MINHASH_COEFFS]


def _py_simhash(text):
    """Scalar reference of the 40-bit portable SimHash signature."""
    toks = [] if text is None else _py_tokens(text)
    if len(toks) < 3:
        return None
    mod = 1 << 40
    th = [_py_poly_hash(t) for t in toks]
    votes = [0] * 40
    for i in range(len(th) - 2):
        h = ((th[i] * 131 + th[i + 1]) % mod * 131 + th[i + 2]) % mod
        for b in range(40):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(40) if votes[b] >= 0)


def test_minhash_signatures_and_pairs_match_references(spark, sf_dir, duck):
    """minhash_portable_signatures (Arrow kernel: code-point Horner fold +
    LCG minima in numpy) equals a scalar pure-Python ord() fold for
    signature, and minhash_portable_pairs returns exactly the pair set the
    q_dedup_minhash DuckDB oracle computes — on the corpus, the
    adversarial rows, a zero-row frame and an all-NULL-text frame."""
    from etl_asana_spark.queries_llm import _minhash_oracle_sql
    from etl_asana_spark.testing import compare_frames

    mh = [f"__mh{i}" for i in range(len(dedup._MINHASH_COEFFS))]
    for label, df, con in _signature_cases(spark, sf_dir, duck):
        got = sorted(
            (r["doc_id"], (list(r["__hs"]), [r[m] for m in mh]))
            for r in dedup.minhash_portable_signatures(df).collect()
        )
        want = sorted(
            (r["doc_id"], _py_minhash(r["text"]))
            for r in df.select("doc_id", "text").collect()
            if _py_minhash(r["text"]) is not None
        )
        assert got == want, label
        if label == "adversarial":
            assert [i for i, _ in got] == [1, 2, 3, 4, 5]
        for thr in (0.2, 0.5):
            pairs = dedup.minhash_portable_pairs(df, jaccard_threshold=thr)
            oracle = con.execute(_minhash_oracle_sql(threshold=thr)).fetchdf()
            problems = compare_frames(pairs.toPandas(), oracle)
            assert not problems, (label, thr, problems)
            if label in ("corpus", "adversarial"):
                assert len(oracle), (label, thr)


def test_simhash_signatures_and_pairs_match_references(spark, sf_dir, duck):
    """simhash_portable_signatures (Arrow kernel: token folds -> shingle
    folds -> 40 vote counters in numpy) equals a scalar pure-Python ord()
    fold signature for signature, including the NULL-signature domain rule
    (NULL text, "" and < 3 tokens), and simhash_portable_pairs equals the
    q_dedup_simhash DuckDB oracle — on the corpus, the adversarial rows, a
    zero-row frame and an all-NULL-text frame."""
    from etl_asana_spark.queries_llm import _simhash_oracle_sql
    from etl_asana_spark.testing import compare_frames

    for label, df, con in _signature_cases(spark, sf_dir, duck):
        got = sorted(
            tuple(r) for r in dedup.simhash_portable_signatures(df).collect()
        )
        want = sorted(
            (r["doc_id"], _py_simhash(r["text"]))
            for r in df.select("doc_id", "text").collect()
        )
        assert got == want, label
        if label == "adversarial":
            assert [i for i, h in got if h is None] == [6, 7, 8, 9]
        pairs = dedup.simhash_portable_pairs(df, max_hamming=8)
        problems = compare_frames(
            pairs.toPandas(), con.execute(_simhash_oracle_sql(8)).fetchdf()
        )
        assert not problems, (label, problems)


def test_minhash_pairs_are_true_near_dups(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(t["documents"], jaccard_threshold=0.5).collect()

    def shingle_set(text):
        toks = text.lower().split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    docs = {
        r["doc_id"]: shingle_set(r["text"])
        for r in t["documents"].select("doc_id", "text").collect()
    }
    for row in pairs:
        a, b = docs[row["id_a"]], docs[row["id_b"]]
        true_j = len(a & b) / len(a | b)
        # LSH distance is computed on hashed shingle sets; allow
        # hash-collision slack around the 0.5 similarity threshold.
        assert true_j >= 0.4, (row, true_j)
        assert row["id_a"] < row["id_b"]
    # And the pair set must be a near-dup TAIL, not a vocabulary clique:
    # the pre-shingling featurization returned 68% of all doc pairs here.
    n_docs = t["documents"].count()
    assert len(pairs) < 0.02 * n_docs * (n_docs - 1) / 2


def test_simhash_deterministic_and_metric(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s1 = dedup.simhash_signatures(t["documents"]).collect()
    s2 = dedup.simhash_signatures(t["documents"]).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    # identical text ⇒ identical signature
    dup = t["documents"].select("doc_id", F.lit("alpha beta gamma").alias("text"))
    sigs = {r["simhash"] for r in dedup.simhash_signatures(dup).collect()}
    assert len(sigs) == 1
    # a doc too short to shingle has no signature and can never pair
    short = spark.createDataFrame(
        [(1, "hello"), (2, "two words"), (3, "three whole tokens")],
        "doc_id bigint, text string",
    )
    by_id = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(short).collect()}
    assert by_id[1] is None and by_id[2] is None and by_id[3] is not None
    assert dedup.simhash_pairs(short).collect() == []
    pairs = dedup.simhash_pairs(t["documents"], max_hamming=8).collect()
    for row in pairs:
        assert 0 <= row["hamming"] <= 8
    # near-dup TAIL, not a vocabulary clique (the per-token featurization
    # returned 13 pairs/doc on this corpus)
    n_docs = t["documents"].count()
    assert len(pairs) < 0.02 * n_docs * (n_docs - 1) / 2


def test_fingerprint_deterministic(spark, sf_dir):
    fn = catalog.queries()["q_text_fingerprint"]
    a = sorted(map(tuple, fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert a == b
    for row in fn(spark, sf_dir).collect():
        assert row["min_shingle_hash"] <= row["max_shingle_hash"]


def test_langid_predictions_in_vocab_langs(spark, sf_dir):
    out = catalog.queries()["q_text_langid"](spark, sf_dir).collect()
    # corpus text is synthetic ENGLISH bag-of-words regardless of the lang
    # label, so the heuristic may only ever say en (or und when no stopword).
    assert {r["lang_pred"] for r in out} <= {"en", "und"}
    en_rate = sum(r["lang_pred"] == "en" for r in out) / len(out)
    assert en_rate > 0.5


def test_multimodal_features_shape_and_determinism(spark, sf_dir):
    # The registered key serializes feat to a '|'-joined fixed-point string
    # at the comparison boundary (the r03 gate red was an ndarray column
    # crashing the driver's canonicalizer); decode it back for the property
    # checks. The typed-array library contract is tested separately below.
    fn = catalog.queries()["q_multimodal"]
    out = fn(spark, sf_dir)
    assert out.columns == [
        "doc_id", "media_type", "n_bytes", "checksum", "width", "height", "feat"
    ]
    assert dict(out.dtypes)["feat"] == "string"
    rows = out.collect()
    docs = load_tables(spark, sf_dir)["documents"]
    assert len(rows) == docs.count()
    for r in rows:
        # Round-5: the registered fixture is real PNG bytes, so n_bytes is
        # the encoded payload size (strictly larger than the pixel rows it
        # carries: 8-byte signature + IHDR/IDAT/IEND framing).
        assert r["media_type"] == "image/png"
        assert r["n_bytes"] > 8
        feat = [int(v) / 1e6 for v in r["feat"].split("|")]
        assert len(feat) == 8
        assert all(-1e-6 <= x <= 1.0 + 1e-6 for x in feat)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, fn(spark, sf_dir).collect()))


def test_multimodal_library_path_keeps_typed_array(spark, sf_dir):
    # Library users get the real array<float> contract from extract_features;
    # only the registered gate-facing key flattens it.
    from etl_asana_spark.operators import multimodal

    media = multimodal.attach_binary_payload(
        load_tables(spark, sf_dir)["documents"].limit(20)
    )
    out = multimodal.extract_features(media)
    assert dict(out.dtypes)["feat"] == "array<float>"
    for r in out.collect():
        assert len(r["feat"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feat"])


def test_unit_vectors_have_unit_norm(spark, sf_dir):
    # unit_vec is serialized as a '|'-joined fixed-point (1e-6) string at the
    # comparison boundary; decode it back to floats for the norm property.
    out = catalog.queries()["q_emb_norm"](spark, sf_dir).collect()
    for row in out:
        vec = [int(v) / 1e6 for v in row["unit_vec"].split("|")]
        n = sum(x * x for x in vec) ** 0.5
        assert abs(n - 1.0) < 1e-5, row["vec_id"]


def test_batched_cosine_matches_hof_exact(spark, sf_dir):
    """The numpy-batched brute force returns the same neighbor set as the
    JVM HOF brute force (scores may differ in float low bits, ids must not)."""
    qs = catalog.queries()
    hof = qs["q_sim_cosine_topk"](spark, sf_dir)
    batched = qs["q_sim_cosine_topk_batched"](spark, sf_dir)
    ids = lambda df: [(r["query_id"], r["vec_id"]) for r in
                      df.orderBy("query_id", F.desc("cos"), "vec_id").collect()]
    assert ids(hof) == ids(batched)


@pytest.mark.slow  # ~38 s 3-threshold all-pairs battery; opt-in (r11, see pytest.ini)
def test_embed_dedup_blocked_equals_all_pairs(spark, sf_dir):
    """The triangle-inequality blocked pipeline is EXACT: identical answer
    set (ids and cos values) to the plain all-pairs join, at several
    thresholds including ones that prune nothing and nearly everything."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    for thr in (0.3, 0.45, 0.9):
        ap = dedup.embedding_cosine_dups(e, threshold=thr).collect()
        bl = dedup.embedding_cosine_dups_blocked(e, threshold=thr).collect()
        key = lambda r: (r["id_a"], r["id_b"], round(r["cos"], 10))
        assert sorted(map(key, ap)) == sorted(map(key, bl)), thr


@pytest.mark.slow  # ~40 s duplicate-planted battery; opt-in (r11, see pytest.ini)
def test_embed_dedup_blocked_equals_all_pairs_with_exact_duplicates(spark, sf_dir):
    """Round-4 regression (found by scripts/scale_rehearsal.py): a corpus
    where vectors have byte-identical copies made the within-cell verify
    quadratic in the duplicate count. The rewritten pipeline collapses
    exact duplicates first — answer set must still EXACTLY equal all-pairs,
    including the intra-group (identical-vector) pairs and their computed
    self-cosine values."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding").limit(120)
    # plant 3 exact copies of every vector (disjoint id spans, like the
    # rehearsal's replication)
    dup = e
    for r in (1, 2):
        dup = dup.unionByName(
            e.select((F.col("vec_id") + 1_000_000 * r).alias("vec_id"), "embedding")
        )
    for thr in (0.3, 0.9, 1.1):  # 1.1 > self-cosine: intra pairs must drop
        ap = dedup.embedding_cosine_dups(dup, threshold=thr).collect()
        bl = dedup.embedding_cosine_dups_blocked(dup, threshold=thr).collect()
        key = lambda r: (r["id_a"], r["id_b"], round(r["cos"], 10))
        assert sorted(map(key, ap)) == sorted(map(key, bl)), thr
    # and the duplicate-heavy corpus actually produced intra-group pairs
    assert any(
        r["id_b"] - r["id_a"] in (1_000_000, 2_000_000)
        for r in dedup.embedding_cosine_dups_blocked(dup, threshold=0.99).collect()
    )


@pytest.mark.slow  # ~25 s dual-path differential; opt-in (r11, see pytest.ini)
def test_embed_arrow_verify_matches_jvm(spark, sf_dir, monkeypatch):
    """r11: the Arrow-batched BLAS verify must return the SAME pair set as
    the codegen'd per-pair dot (cos values may differ in float summation
    order only — bounded at 1e-10 here, ~1e-15 in practice), and the
    default MAC threshold must keep the JVM path at gate-scale MAC counts.
    Each side is forced through the threshold: 0 -> Arrow, huge -> JVM."""
    e = load_tables(spark, sf_dir)["embeddings"]
    # The verify is priced from the bounded cell collect and stays JVM
    # below the default MAC threshold (every shipped SF).
    dedup.embedding_cosine_dups_blocked(e, threshold=0.45)
    d = dedup._LAST_EMBED_VERIFY
    assert d["arrow_ok"] and not d["use_arrow"]
    assert d["pair_dots"] > 0 and d["dim"] == 64
    rows = {}
    for mode, min_macs in (("jvm", 1 << 62), ("arrow", 0)):
        monkeypatch.setattr(dedup, "_EMBED_VERIFY_ARROW_MIN_MACS", min_macs)
        rows[mode] = sorted(
            (r["id_a"], r["id_b"], r["cos"])
            for r in dedup.embedding_cosine_dups_blocked(
                e, threshold=0.45
            ).collect()
        )
        assert dedup._LAST_EMBED_VERIFY["use_arrow"] == (mode == "arrow")
    assert [r[:2] for r in rows["jvm"]] == [r[:2] for r in rows["arrow"]]
    assert rows["jvm"]  # non-empty at every shipped SF
    for (_, _, cj), (_, _, ca) in zip(rows["jvm"], rows["arrow"]):
        assert abs(cj - ca) < 1e-10


def test_embed_arrow_verify_null_and_nan_semantics(spark, monkeypatch):
    """The Arrow kernel must replicate Spark filter semantics exactly:
    NULL vector -> dropped, NULL element -> dropped (fold poisons to
    NULL), NaN element -> KEPT (NaN cosine compares greater than any
    threshold), zero vector -> dropped (try_divide NULL)."""
    nan = float("nan")
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),          # pairs with 0 at cos 1.0
            (2, None),                # NULL vector: no pairs
            (3, [1.0, None]),         # NULL element: no pairs
            (4, [nan, 0.0]),          # NaN: pairs with everything non-NULL
            (5, [0.0, 0.0]),          # zero vector: try_divide NULL
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = {}
    for mode, min_macs in (("jvm", 1 << 62), ("arrow", 0)):
        monkeypatch.setattr(dedup, "_EMBED_VERIFY_ARROW_MIN_MACS", min_macs)
        rows[mode] = sorted(
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_cosine_dups_blocked(
                df, threshold=0.9
            ).collect()
        )
        assert dedup._LAST_EMBED_VERIFY["use_arrow"] == (mode == "arrow")
    assert rows["jvm"] == rows["arrow"]
    assert (0, 1) in rows["jvm"]
    assert all(4 in p for p in rows["jvm"] if p != (0, 1))
    # NULL vector / NULL element never pair (fold poisons to NULL). The
    # zero vector drops against finite partners (denominator exactly 0 ->
    # try_divide NULL) but KEEPS (4, 5): its denominator against the NaN
    # vector is NaN·0 = NaN, and a NaN cosine passes any threshold.
    assert not any(2 in p or 3 in p for p in rows["jvm"])
    assert [p for p in rows["jvm"] if 5 in p] == [(4, 5)]


@pytest.mark.slow  # ~25 s dual-path differential; opt-in (r11, see pytest.ini)
def test_semantic_batched_verify_matches_jvm(spark, sf_dir):
    """r11: semantic_dedup_stats(batched_verify=True) is integer-identical
    to the JVM pair join — including on a corpus with planted exact
    duplicates and a cluster-spanning ragged/NULL mix."""
    from etl_asana_spark.operators.similarity import kmeans_lloyd

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    assigned = kmeans_lloyd(emb, k=16, n_iter=2).select("vec_id", "cluster")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).join(assigned, "vec_id")
    a = sorted(
        tuple(r) for r in dedup.semantic_dedup_stats(vecs, 0.28).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.semantic_dedup_stats(
            vecs, 0.28, batched_verify=True
        ).collect()
    )
    assert a == b and a
    # degenerate mix: ragged lengths only pair within equal lengths, NULL
    # vectors and NULL elements drop, NaN keeps — all inside one cluster.
    nan = float("nan")
    mix = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 7), (1, [1.0, 0.0], 7),
            (2, [1.0], 7), (3, [1.0], 7),       # short pair: matches
            (4, None, 7), (5, [1.0, None], 7),  # dropped
            (6, [nan, 0.0], 7),                 # NaN: kept vs equal length
        ],
        "vec_id bigint, v array<double>, cluster int",
    )
    a = sorted(tuple(r) for r in dedup.semantic_dedup_stats(mix, 0.9).collect())
    b = sorted(
        tuple(r)
        for r in dedup.semantic_dedup_stats(
            mix, 0.9, batched_verify=True
        ).collect()
    )
    assert a == b and a


def test_embed_dedup_plan_has_no_nested_loop(spark, sf_dir):
    """q_dedup_embed (round-3 re-registration) must never BNLJ/Cartesian —
    the whole point of the blocked pipeline."""
    from etl_asana_spark.plans import _plan_text

    df = catalog.queries()["q_dedup_embed"](spark, sf_dir)
    text = _plan_text(df, executed=False)
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text


def test_multimodal_resize_binary_roundtrip(spark, sf_dir):
    """The LIBRARY path keeps binary-out schema, fixed target dims,
    non-empty payloads; the REGISTERED key (round 7: sha256-hashed payload,
    so the gate can hash-compare without binary cells) must agree with the
    library payloads hash-for-hash."""
    import hashlib

    from etl_asana_spark.operators import multimodal

    docs = load_tables(spark, sf_dir)["documents"]
    media = multimodal.attach_png_payload(docs)
    out = multimodal.resize_media(media, 224, 224)
    assert dict(out.dtypes)["payload"] == "binary"
    pdf = out.toPandas()
    n_docs = docs.count()
    assert len(pdf) == n_docs
    assert (pdf["width"] == 224).all() and (pdf["height"] == 224).all()
    assert (pdf["n_bytes"] > 0).all()
    # registered key == sha256 of the library payloads (and deterministic
    # across runs by construction of both paths)
    reg = catalog.queries()["q_multimodal_resize"](spark, sf_dir).toPandas()
    lib_sha = {
        int(d): hashlib.sha256(bytes(p)).hexdigest()
        for d, p in zip(pdf["doc_id"], pdf["payload"])
    }
    assert len(reg) == n_docs
    for d, sha in zip(reg["doc_id"], reg["payload_sha"]):
        assert lib_sha[int(d)] == sha


def test_multimodal_frame_sampling_fanout(spark, sf_dir):
    """Frame sampling emits exactly n_frames rows per doc, frames non-empty
    (registered surface since round 7: sha256 per frame, no binary cells)."""
    out = catalog.queries()["q_multimodal_frames"](spark, sf_dir).toPandas()
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert len(out) == 4 * n_docs
    assert set(out["frame_idx"]) == {0, 1, 2, 3}
    assert (out["frame_bytes"] > 0).all()
    assert out["frame_sha"].str.len().eq(64).all()
    per_doc = out.groupby("doc_id").size()
    assert (per_doc == 4).all()


def test_registered_multimodal_keys_dispatch_png_tier(spark, sf_dir):
    """Round-5 gate-surface pin: the REGISTERED q_multimodal* keys must
    exercise the real stdlib PNG decode tier in this PIL-less container,
    not the stub. Two tier-discriminating invariants:

    - the PNG decode tier returns the TRUE image width as the kernel's
      first tuple element (the ``checksum`` column), which equals the
      fixture metadata width; the stub returns a byte-statistics hash
      ``% 1920`` that is independent of the 4..16-pixel fixture widths;
    - the resize key's output payloads must PARSE as 224×224 PNGs — the
      stub emits byte-length-scaled slices that carry no PNG signature."""
    from etl_asana_spark.operators import png_codec

    qs = catalog.queries()
    feats = qs["q_multimodal"](spark, sf_dir).collect()
    assert len(feats) > 0
    for r in feats:
        assert r["media_type"] == "image/png"
        assert r["checksum"] == r["width"], (
            "stub tier ran for doc %s" % r["doc_id"]
        )
        assert 4 <= r["width"] <= 16 and 3 <= r["height"] <= 9

    # the registered resize key hashes the payload since round 7; the
    # binary-parses-as-PNG check runs on the library path it wraps (the
    # sha-parity test above ties the two together)
    from etl_asana_spark.operators import multimodal

    docs = load_tables(spark, sf_dir)["documents"].limit(8)
    media = multimodal.attach_png_payload(docs)
    resized = multimodal.resize_media(media, 224, 224).collect()
    assert resized
    for r in resized:
        w, h, bpp, _ = png_codec.decode_png(bytes(r["payload"]))
        assert (w, h, bpp) == (224, 224, 3)


def test_registered_audio_key_dispatches_wav_tier(spark, sf_dir):
    """r07 gate-surface pin: the REGISTERED q_multimodal_audio key must
    exercise the real stdlib WAV decode (media_type 'audio/wav' only comes
    out of a successful RIFF chunk-walk + PCM16 unpack), with the synthesis
    parameters visible in the output."""
    out = catalog.queries()["q_multimodal_audio"](spark, sf_dir).collect()
    n_docs = load_tables(spark, sf_dir)["documents"].filter(
        F.col("text").isNotNull()
    ).count()
    assert len(out) == n_docs > 0
    for r in out:
        assert r["media_type"] == "audio/wav", r["doc_id"]
        assert r["sample_rate"] in (8000, 12000, 16000)
        assert 128 <= r["n_samples"] <= 368
        assert r["duration_ms"] == r["n_samples"] * 1000 // r["sample_rate"]
        assert r["energy"] > 0 and 0 < r["peak"] <= 32768
        assert 0 <= r["zero_crossings"] < r["n_samples"]


def test_audio_kernel_raw_pcm_fallback_is_real_not_fake(spark, sf_dir):
    """A non-WAV payload takes the headerless raw-PCM-u8 reading — a real
    (if minimal) audio interpretation whose signature is recomputable from
    the bytes — never a crash and never a content-independent stub."""
    from etl_asana_spark.operators import multimodal, wav_codec

    docs = load_tables(spark, sf_dir)["documents"].limit(8)
    media = multimodal.attach_binary_payload(docs)  # text bytes, not WAV
    out = multimodal.extract_audio_features(media).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    assert out
    for r in out:
        assert r["media_type"] == "audio/pcm-u8"
        raw = texts[r["doc_id"]].encode("utf-8")
        samples = [(b - 128) * 256 for b in raw]
        energy, zc, peak = wav_codec.audio_signature(samples)
        assert (r["energy"], r["zero_crossings"], r["peak"]) == (energy, zc, peak)
        assert (r["n_samples"], r["sample_rate"]) == (len(raw), 8000)


def test_audio_kernel_survives_rate_zero_wav(spark):
    """r07 review finding: a parseable RIFF/WAVE container whose fmt chunk
    declares sample_rate=0 (corrupt/adversarial bytes) must take the
    raw-PCM fallback, not divide by zero inside the Arrow batch —
    decode_wav rejects non-positive rates so the dispatch falls through."""
    import struct

    from etl_asana_spark.operators import multimodal, wav_codec

    data = struct.pack("<3h", 100, -100, 200)
    payload = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 0, 0, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert wav_codec.is_wav(payload)
    media = spark.createDataFrame(
        [(7, payload, {"mime": "audio/wav", "n_bytes": len(payload),
                       "sample_rate": 0, "n_samples": 3})],
        "doc_id long, payload binary, media_meta "
        "struct<mime:string, n_bytes:bigint, sample_rate:int, n_samples:int>",
    )
    rows = multimodal.extract_audio_features(media).collect()
    assert len(rows) == 1
    assert rows[0]["media_type"] == "audio/pcm-u8"  # fallback tier ran
    assert rows[0]["sample_rate"] == 8000


def test_audio_kernel_skips_null_payload_rows(spark):
    """NULL payload/meta rows (failed upstream fetch) are skipped, never a
    batch crash — same NULL-domain rule as the image kernels."""
    from etl_asana_spark.operators import multimodal

    media = spark.createDataFrame(
        [(1, bytes(b"abc"), {"mime": "x", "n_bytes": 3, "sample_rate": 1, "n_samples": 1}),
         (2, None, None)],
        "doc_id long, payload binary, media_meta "
        "struct<mime:string, n_bytes:bigint, sample_rate:int, n_samples:int>",
    )
    rows = multimodal.extract_audio_features(media).collect()
    assert [r["doc_id"] for r in rows] == [1]


def test_audio_read_narrow_except_surfaces_real_bugs(monkeypatch):
    """r07 advice: the WAV fallback must catch only the decode contract's
    malformed-container classes — a TypeError/AttributeError from the
    decode path is a programming error and must PROPAGATE, never be
    reinterpreted as raw-PCM audio. Driver-side unit test on the shared
    per-payload helper (the mapInPandas kernel calls the same function)."""
    import wave

    import pytest

    from etl_asana_spark.operators import multimodal as mm
    from etl_asana_spark.operators import wav_codec

    payload = wav_codec.encode_wav(8000, [1, -2, 3])

    def boom(_p):
        raise TypeError("a genuine bug, not a malformed container")

    monkeypatch.setattr(mm.wav_codec, "decode_wav", boom)
    with pytest.raises(TypeError):
        mm._audio_read(payload)

    # Contract classes still take the raw-PCM fallback.
    for exc in (wave.Error("bad"), ValueError("bad"), EOFError("bad")):
        monkeypatch.setattr(
            mm.wav_codec, "decode_wav",
            lambda _p, e=exc: (_ for _ in ()).throw(e),
        )
        mtype, rate, samples = mm._audio_read(payload)
        assert (mtype, rate) == ("audio/pcm-u8", 8000)
        assert samples == [(b - 128) * 256 for b in payload]


def test_multimodal_kernel_dispatch_prefers_real_decoder(monkeypatch):
    """Kernel dispatch (round-3 optional-import path): when a PIL-shaped
    module is importable, _decode_payload routes to the real kernel; when
    the decode raises (non-media bytes) or the module is absent, it falls
    back to the deterministic stub. Driver-side unit test — no Spark."""
    import sys
    import types

    from etl_asana_spark.operators import multimodal as mm

    # No PIL (this container): stub result.
    stub = mm._decode_payload_stub(b"hello world")
    assert mm._decode_payload(b"hello world") == stub

    class _FakeImg:
        size = (640, 480)

        def load(self):
            pass

        def convert(self, mode):
            return self

        def resize(self, wh):
            return self

        def getdata(self):
            return [0, 32, 64, 96, 128, 160, 192, 255]

    fake = types.ModuleType("PIL.Image")
    fake.open = lambda buf: _FakeImg()
    monkeypatch.setitem(sys.modules, "PIL.Image", fake)
    w, h, feats = mm._decode_payload(b"pretend-jpeg-bytes")
    assert (w, h) == (640, 480)
    assert len(feats) == 8 and feats[-1] == 1.0

    # A "PIL" whose open() rejects the bytes → stub fallback, not an error.
    broken = types.ModuleType("PIL.Image")

    def _raise(buf):
        raise OSError("cannot identify image file")

    broken.open = _raise
    monkeypatch.setitem(sys.modules, "PIL.Image", broken)
    assert mm._decode_payload(b"hello world") == stub


def test_connected_components_on_known_graph(spark):
    """Chain, triangle, pair, and isolated nodes resolve to min-id labels."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain → component 1
         (20, 21), (21, 22), (20, 22),  # triangle → component 20
         (10, 11)],                   # pair → component 10
        "src long, dst long",
    )
    labels = {r["node"]: r["component"]
              for r in dedup.connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1,
                      20: 20, 21: 20, 22: 20,
                      10: 10, 11: 10}


def test_connected_components_both_paths_agree(spark, monkeypatch):
    """r07: connected_components gained a driver-side union-find fast path
    below _CC_DRIVER_CUTOVER edges. Both paths must label identically —
    the distributed propagation loop is forced by zeroing the cutover
    (otherwise nothing under 100k edges would ever exercise it), on the
    known graph AND on a deterministic random graph with a long chain
    (path length > a few propagation rounds)."""
    cases = [
        [(1, 2), (2, 3), (3, 4), (20, 21), (21, 22), (20, 22), (10, 11)],
        # 60-node chain + hub-and-spokes + self-contained triangle
        [(i, i + 1) for i in range(100, 160)]
        + [(500, 500 + i * 7) for i in range(1, 9)]
        + [(900, 901), (901, 902), (900, 902)],
    ]
    for rows in cases:
        edges = spark.createDataFrame(rows, "src long, dst long")
        fast = {r["node"]: r["component"]
                for r in dedup.connected_components(edges).collect()}
        monkeypatch.setattr(dedup, "_CC_DRIVER_CUTOVER", 0)
        dist = {r["node"]: r["component"]
                for r in dedup.connected_components(edges).collect()}
        monkeypatch.undo()
        assert fast == dist
        # and the labels are the min reachable id, per the contract
        assert fast[104] == 100 and fast[159] == 100 if (100, 101) in rows else True


def test_dedup_clusters_partition_and_canonical(spark, sf_dir):
    """Clusters partition the corpus; exactly one canonical doc per cluster;
    cluster count + sizes are consistent."""
    out = catalog.queries()["q_dedup_clusters"](spark, sf_dir).toPandas()
    n_docs = load_tables(spark, sf_dir)["documents"].count()
    assert len(out) == n_docs                     # every doc exactly once
    by_cluster = out.groupby("cluster_id")
    assert (by_cluster["is_canonical"].sum() == 1).all()   # one survivor each
    assert (by_cluster.size() == by_cluster["cluster_size"].first()).all()
    # survivors are each cluster's min doc_id
    canon = out[out["is_canonical"]]
    assert (canon["doc_id"] == canon["cluster_id"]).all()


def test_hash_split_disjoint_exhaustive_stable(spark, sf_dir):
    """Train/val/test split: disjoint, covers everything, stable under
    repartitioning, roughly proportional."""
    from etl_asana_spark.operators.curation import hash_split

    docs = load_tables(spark, sf_dir)["documents"]
    splits = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = docs.count()
    ids = {name: {r["doc_id"] for r in df.select("doc_id").collect()}
           for name, df in splits.items()}
    assert sum(len(s) for s in ids.values()) == n          # exhaustive
    assert len(ids["train"] | ids["val"] | ids["test"]) == n  # disjoint
    assert 0.6 * n < len(ids["train"]) < 0.95 * n          # ~proportional
    # stability: same membership on a repartitioned copy
    again = hash_split(docs.repartition(17), "doc_id",
                       {"train": 0.8, "val": 0.1, "test": 0.1})
    assert {r["doc_id"] for r in again["val"].select("doc_id").collect()} == ids["val"]


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing: every doc appears exactly once; no sequence exceeds the
    budget unless it is a single oversized doc; deterministic across runs."""
    from etl_asana_spark.operators.curation import pack_sequences

    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens")
    )
    MAX = 120
    packed = pack_sequences(docs, max_tokens=MAX, parts=8).toPandas()
    all_ids = [d for ids in packed["doc_ids"] for d in ids]
    assert sorted(all_ids) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )
    tokens = {r["doc_id"]: r["n_tokens"] for r in docs.collect()}
    for ids, total in zip(packed["doc_ids"], packed["total_tokens"]):
        assert total == sum(tokens[d] for d in ids)
        assert total <= MAX or len(ids) == 1   # oversized docs ride alone
    again = pack_sequences(docs.repartition(13), max_tokens=MAX, parts=8).toPandas()
    a = sorted(map(tuple, packed[["seq_id", "total_tokens"]].values.tolist()))
    b = sorted(map(tuple, again[["seq_id", "total_tokens"]].values.tolist()))
    assert a == b  # deterministic despite upstream partitioning


def test_sequence_packing_all_null_token_group_is_empty(spark):
    """Round-5 regression (caught by the nullcols degenerate sweep): a group
    whose every doc has a NULL token count packs to ZERO sequences, and the
    typed empty frame must still convert to the declared array<long> schema
    (a bare empty pd.DataFrame makes float64 columns Arrow can't convert)."""
    from etl_asana_spark.operators.curation import pack_sequences

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, 7), (None, 5)],
        "doc_id long, n_tokens long",
    )
    out = pack_sequences(docs, max_tokens=10, parts=2).collect()
    # doc 3 (bucket 1) packs alone; bucket 0's docs and the NULL-id row are
    # all outside the packing domain and contribute nothing (a NULL id
    # would otherwise form a NULL bucket and crash the namespace int())
    assert [(r["seq_id"], list(r["doc_ids"]), r["n_docs"], r["total_tokens"])
            for r in out] == [(1_000_000, [3], 1, 7)]


def test_quantization_error_bound(spark, sf_dir):
    """int8 absmax quantization: per-element unit error ≤ 1/254 + eps, and
    dequantized cosine stays ≈1 vs the original vector."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    e = F.transform("embedding", lambda x: x.cast("double"))
    scale = F.greatest(F.array_max(F.transform(e, lambda x: F.abs(x))), F.lit(1e-12))
    df = emb.withColumn("scale", scale).withColumn(
        "q", F.transform(e, lambda x: F.round(x / F.col("scale") * 127.0).cast("long"))
    )
    err = df.select(
        F.array_max(
            F.transform(
                F.arrays_zip(e.alias("x"), F.col("q").alias("qv")),
                lambda p: F.abs(p["x"] / F.col("scale") - p["qv"] / F.lit(127.0)),
            )
        ).alias("err")
    )
    max_err = err.agg(F.max("err")).collect()[0][0]
    assert max_err <= 1 / 254 + 1e-12


def test_hll_rollup_accuracy(spark, sf_dir):
    """Sketch-merged weekly estimates must track exact distinct counts within
    HLL's error envelope (lgConfigK=12 default → ~1.6% stderr; assert 5%)."""
    approx = {
        r["week"]: r["approx_users"]
        for r in catalog.queries()["q_agg_hll_rollup"](spark, sf_dir).collect()
    }
    ev = load_tables(spark, sf_dir)["events"]
    exact = {
        r["week"]: r["n"]
        for r in ev.groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for wk, est in approx.items():
        assert abs(est - exact[wk]) <= max(2, 0.05 * exact[wk]), (wk, est, exact[wk])


def test_pca_reduce_shape_and_variance_order(spark, sf_dir):
    """k output dims per row; the projected components carry decreasing
    variance (the defining PCA property)."""
    # the registered key serializes reduced to a fixed-point '|'-string at
    # the comparison boundary; decode it back for the variance property.
    out = catalog.queries()["q_emb_pca"](spark, sf_dir)
    assert dict(out.dtypes)["reduced"] == "string"
    n_in = load_tables(spark, sf_dir)["embeddings"].count()
    rows = [
        [int(v) / 1e6 for v in r["reduced"].split("|")] for r in out.collect()
    ]
    assert len(rows) == n_in
    assert all(len(r) == 8 for r in rows)
    import numpy as np

    mat = np.array(rows)
    variances = mat.var(axis=0)
    assert all(variances[i] >= variances[i + 1] - 1e-9 for i in range(7))
    assert variances[0] > 0


def test_pca_moments_match_duckdb_oracle(spark, sf_dir, duck):
    """pca_power_reduce's mapInArrow (numpy syrk) moment pass gives the
    q_emb_pca DuckDB oracle's fixed-point output — the serialization
    rounds at 1e-6 with ~1000x margin-probed headroom over summation-order
    drift, so any difference is a real bug. A zero-row and an all-NULL
    embeddings frame give the oracle's empty answer."""
    import duckdb

    from etl_asana_spark.functions.parity import fixed_point_join
    from etl_asana_spark.testing import compare_frames

    oracle = catalog.oracle_sql()["q_emb_pca"]
    got = catalog.queries()["q_emb_pca"](spark, sf_dir).toPandas()
    assert len(got)
    assert not compare_frames(got, duck.execute(oracle).fetchdf())
    for rows in ([], [(1, None), (2, None)]):
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        out = similarity.pca_power_reduce(df, k=8, n_iter=20).select(
            "vec_id", fixed_point_join("reduced").alias("reduced")
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
        if rows:
            con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
        assert not compare_frames(out.toPandas(), con.execute(oracle).fetchdf())
        con.close()


def test_pca_power_reduce_tolerates_nonfinite_components(spark):
    """pca_power_reduce emits its projection as generated SQL text (r7);
    double literals have no NaN/Infinity syntax, so non-finite moments must
    route through an explicit cast rather than failing to parse. A NaN
    component poisons the covariance, so every projection is NaN — the same
    propagation the pre-r7 F.lit() expression tree produced — but the call
    must not raise."""
    import math

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(10)]
    rows.append((99, [float("nan"), 1.0, 2.0, 3.0]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = similarity.pca_power_reduce(df, k=2, n_iter=3).collect()
    assert len(out) == 11
    assert all(len(r["reduced"]) == 2 for r in out)
    assert all(math.isnan(v) for r in out for v in r["reduced"])


def test_cms_never_undercounts_and_bounds_error(spark, sf_dir):
    """CMS hard guarantees: estimate >= exact for every probed key (hash
    collisions only add), and overcount <= eps*N with eps = e/width for a
    4-deep sketch (failure prob ~e^-4; deterministic hashes make this
    reproducible, so a pass is a pass forever)."""
    import math

    out = {r["user_id"]: r for r in
           catalog.queries()["q_agg_cms_topk"](spark, sf_dir).collect()}
    assert len(out) == 10
    n_total = load_tables(spark, sf_dir)["events"].count()
    eps = math.e / 8192
    for r in out.values():
        assert r["cms_estimate"] >= r["n_events"]
        assert r["cms_estimate"] - r["n_events"] <= eps * n_total


def test_cms_merge_equals_single_build(spark, sf_dir):
    """Counter-sum merge of per-day partial sketches == one global build:
    the re-aggregation property that makes the sketch a rollup artifact."""
    from etl_asana_spark.operators import sketch

    ev = load_tables(spark, sf_dir)["events"]
    whole = sketch.cms_build(ev, "user_id")
    parts = [
        sketch.cms_build(ev.filter(F.dayofmonth("ts") % 2 == p), "user_id")
        for p in (0, 1)
    ]
    merged = sketch.cms_merge(*parts)
    a = {(r["i"], r["bucket"]): r["cnt"] for r in whole.collect()}
    b = {(r["i"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert a == b


def test_inverted_index_invariants(spark, sf_dir):
    """df ≤ tf, postings sorted/unique/capped at 20, df ≥ the declared floor."""
    rows = catalog.queries()["q_text_inverted_index"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 5 <= r["df"] <= r["tf"]
        # postings are serialized as a '|'-joined string of sorted doc ids
        postings = [int(d) for d in r["postings"].split("|")]
        assert len(postings) <= 20
        assert postings == sorted(set(postings))


def test_dup_ngram_fraction_bounds(spark, sf_dir):
    """dup_frac is a fraction; every scored doc has at least one shingle."""
    rows = catalog.queries()["q_dup_ngram_fraction"](spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r["dup_frac"] <= 1.0 and r["n_shingles"] >= 1 for r in rows)


def test_kmeans_null_component_and_ragged_vectors(spark):
    """r09 regression: the generated-argmin rework crashed when an INIT
    centroid carried a NULL component (``_dlit(None)``) — the old
    broadcast-join path shipped it as an array NULL. NULL components and
    ragged (shorter) vectors must flow through as NULL dist2 (assigned to
    the lowest such cluster, the min_by NULLS-FIRST struct order), never
    crash, and clean vectors must still cluster."""
    rows = [
        (1, [1.0, 2.0]),
        (2, [1.0, None]),  # NULL component — eligible as an init centroid
        (3, [5.0]),        # ragged: zip_with pads -> NULL dist2
        (4, [4.0, 5.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in similarity.kmeans_lloyd(emb, k=2, n_iter=2).collect()
    }
    assert len(out) == 4
    assert out[2][1] is None and out[3][1] is None  # NULL dist2, no crash
    assert out[1][1] is not None and out[4][1] is not None


def test_kmeans_model_cache_isolates_by_key_and_config(spark):
    """r09: the opt-in fitted-model cache must never serve one input's
    centroids to another — distinct model_keys, and distinct (k, n_iter)
    under ONE key, fit independently; the same (key, config) pair is a
    cache hit returning identical assignments; an empty-string key is
    rejected loudly instead of silently not caching."""
    import pytest

    a = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(i, [100.0 + i, 50.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    ka, kb = "test-cache-a", "test-cache-b"
    fit_a = similarity.kmeans_lloyd(a, k=2, n_iter=2, model_key=ka)
    fit_b = similarity.kmeans_lloyd(b, k=2, n_iter=2, model_key=kb)
    da = {r["vec_id"]: r["dist2"] for r in fit_a.collect()}
    db = {r["vec_id"]: r["dist2"] for r in fit_b.collect()}
    # b's vectors are ~100 away from a's centroids: had b been served a's
    # cached model, its dist2 values would be ~1e4, not ~O(10).
    assert max(db.values()) < 100.0 and max(da.values()) < 100.0
    # cache hit: same key + config reproduces identical assignments
    again = {
        r["vec_id"]: r["dist2"]
        for r in similarity.kmeans_lloyd(
            a, k=2, n_iter=2, model_key=ka
        ).collect()
    }
    assert again == da
    # different config under the same key is a different cache entry
    _, cents3 = similarity.kmeans_lloyd(
        a, k=3, n_iter=1, model_key=ka, _return_model=True
    )
    assert len(cents3) == 3
    with pytest.raises(ValueError, match="model_key"):
        similarity.kmeans_lloyd(a, k=2, n_iter=1, model_key="")


def test_kmeans_model_cache_reset_invalidates_by_key(spark):
    """r09 advice: regenerating data under a previously-fitted key must be
    able to invalidate the cache — reset_lloyd_model_cache(key) drops
    exactly that key's entries (all configs), reset() drops everything,
    and after a reset the next fit sees the NEW data, not stale
    centroids."""
    key = "test-reset-key"
    a = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(i, [500.0 + i, 300.0]) for i in range(8)],
        "vec_id bigint, embedding array<double>",
    )
    similarity.kmeans_lloyd(a, k=2, n_iter=2, model_key=key)
    similarity.kmeans_lloyd(a, k=3, n_iter=1, model_key=key)
    assert similarity.reset_lloyd_model_cache("other-key") == 0
    assert sum(
        1 for k in similarity._LLOYD_MODELS if k[0] == key
    ) == 2
    assert similarity.reset_lloyd_model_cache(key) == 2
    assert all(k[0] != key for k in similarity._LLOYD_MODELS)
    # The stale-data scenario: same key, regenerated input → after reset
    # the fit must track the new data (dist2 small), not a's centroids
    # (dist2 would be ~5e5).
    db = {
        r["vec_id"]: r["dist2"]
        for r in similarity.kmeans_lloyd(
            b, k=2, n_iter=2, model_key=key
        ).collect()
    }
    assert max(db.values()) < 100.0
    similarity.kmeans_lloyd(a, k=2, n_iter=2, model_key="test-reset-k2")
    assert similarity.reset_lloyd_model_cache() >= 2
    assert not similarity._LLOYD_MODELS


@pytest.mark.slow  # ~12 s wide-model fit; opt-in (r11, see pytest.ini)
def test_kmeans_inline_guard_falls_back_to_broadcast_join(spark, monkeypatch):
    """r09 advice: the inline-literal argmin must guard on model size
    (codegen 64KB limit) and fall back to the broadcast-join assignment
    above the threshold — with BIT-IDENTICAL results (same zip_with fold
    order, same (dist2, cluster) tie rule), including NULL/ragged-vector
    dist2 semantics and the duplicate-id per-id reduce."""
    rows = [
        (1, [1.0, 2.0]),
        (2, [1.0, None]),   # NULL component
        (3, [5.0]),         # ragged -> NULL dist2
        (4, [4.0, 5.0]),
        (5, [1.1, 2.1]),
        (6, [3.9, 5.2]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # Duplicate id 6 (outside the k=2 init window — a dup INSIDE the
    # window makes the orderBy(id).limit(k) init itself tie-ambiguous,
    # which is a pre-existing property of dup-id inputs, not a path
    # difference).
    dup = spark.createDataFrame(
        rows + [(6, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )

    def snap(df):
        return sorted(
            (r["vec_id"], r["cluster"], r["dist2"]) for r in df.collect()
        )

    base = snap(similarity.kmeans_lloyd(emb, k=2, n_iter=3))
    base_dup = snap(similarity.kmeans_lloyd(dup, k=2, n_iter=3))
    assert not similarity._lloyd_inline_ok([(0, [0.0] * 3000)])
    monkeypatch.setattr(similarity, "_LLOYD_INLINE_MAX_KD", 1)
    assert snap(similarity.kmeans_lloyd(emb, k=2, n_iter=3)) == base
    assert snap(similarity.kmeans_lloyd(dup, k=2, n_iter=3)) == base_dup


def test_kmeans_duplicate_ids_reduce_to_one_row_per_id(spark):
    """r09 review: rows SHARING an id (upstream join fan-out) must reduce
    to ONE output row per id via the (dist2, cluster) argmin over every
    (row, centroid) combination — the DuckDB Lloyd CTE's ``row_number()
    PARTITION BY vec_id`` semantics, which the old groupBy(id) argmin
    implemented and the shuffle-free fast path must fall back from."""
    rows = [
        (1, [0.0, 0.0]),
        (1, [10.0, 10.0]),   # duplicate id, different vector
        (2, [0.1, 0.1]),
        (3, [10.0, 10.1]),
        (4, [0.2, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = similarity.kmeans_lloyd(emb, k=2, n_iter=2).collect()
    assert len(out) == 4  # one row per DISTINCT id
    by_id = {r["vec_id"]: r for r in out}
    # id 1's winner is whichever of its two vectors lands closer to its
    # best centroid — with clusters at ~(0,0) and ~(10,10), both vectors
    # have dist2 ~0 to one centroid; the argmin tie-break is
    # (dist2, cluster), deterministic.
    assert by_id[1]["dist2"] == min(
        r["dist2"] for r in out if r["vec_id"] == 1
    )
    # unique-id inputs keep the fast path and identical results
    uniq = spark.createDataFrame(
        [(i, v) for i, (j, v) in enumerate(rows)],
        "vec_id bigint, embedding array<double>",
    )
    assert similarity.kmeans_lloyd(uniq, k=2, n_iter=2).count() == 5


def test_kmeans_full_assignment_and_monotone_inertia(spark, sf_dir):
    """Lloyd invariants: every vector assigned exactly once; the objective
    (sum of squared distances) never increases with more iterations."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    n = emb.count()
    a = similarity.kmeans_lloyd(emb, k=4, n_iter=3)
    assert a.count() == n
    assert a.select("vec_id").distinct().count() == n
    assert a.select("cluster").distinct().count() <= 4
    inertia = [
        similarity.kmeans_lloyd(emb, k=4, n_iter=i).agg(F.sum("dist2")).first()[0]
        for i in (1, 2, 3)
    ]
    assert inertia[1] <= inertia[0] * (1 + 1e-9)
    assert inertia[2] <= inertia[1] * (1 + 1e-9)


def test_prefix_filter_prunes_candidates_same_answer(spark, sf_dir):
    """Prefix filtering must (a) generate strictly fewer candidate pairs
    than shared-shingle blocking and (b) return the identical pair set."""
    docs = load_tables(spark, sf_dir)["documents"].filter(F.col("lang") == "fr")
    pref, blocked = dedup.candidate_pair_counts(docs, n=3, threshold=0.2)
    assert pref < blocked, (pref, blocked)
    a = dedup.prefix_filter_jaccard_pairs(docs, n=3, threshold=0.2)
    b = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_prefix_filter_matches_ngram_on_neardup_clusters(spark):
    """r10 regression for the array-intersect verify rewrite: on an n-way
    NEAR-dup corpus (the 10× rehearsal shape whose pair×shingle verify
    intermediate measured 13.2× for 10× data) at a loose threshold, the
    prefix formulation must still return EXACTLY the brute blocking
    family's pairs, jaccard values included."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet white black grey",
    ]
    rows = []
    doc_id = 0
    for text in base:
        for r in range(6):  # 6-way near-dup families: C(6,2)=15 true pairs
            rows.append((doc_id, text if r == 0 else f"{text} replica{r}"))
            doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(
        tuple(r)
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, n=3, threshold=0.015
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.015).collect()
    )
    assert a == b and len(a) >= 45  # 3 families x 15 intra-family pairs


def test_punct_ratio_counts_punctuation_not_its_complement(spark, sf_dir):
    """Round-4 outcome-audit regression: q_text_quality's inline n_punct
    dropped the caret from [^\\w\\s] and computed 1 - punct_ratio on BOTH
    engines (oracle agreed, every ratio read 1.0 on the punctuation-free
    corpus). Pin the answer on a string with known punctuation and on the
    real corpus, and pin query == library operator."""
    from etl_asana_spark.operators.text import quality_features

    probe = spark.createDataFrame(
        [(1, "hello, world!!"), (2, "no punct here")], "doc_id long, text string"
    )
    feats = quality_features("text")
    got = {
        r["doc_id"]: r["pr"]
        for r in probe.select("doc_id", feats["punct_ratio"].alias("pr")).collect()
    }
    assert abs(got[1] - 3 / 14) < 1e-9  # ',' '!' '!' of 14 chars
    assert got[2] == 0.0

    pdf = catalog.queries()["q_text_quality"](spark, sf_dir).toPandas()
    # synthetic corpus text is bag-of-words with no punctuation at all
    assert (pdf["punct_ratio"] == 0.0).all()
    assert (pdf["stopword_ratio"] <= 1.0).all()


def test_unshingleable_count_measures_exclusion(spark):
    """Docs shorter than shingle_n words are silently excluded from fuzzy
    pairing; unshingleable_count is the caller-facing detector for a corpus
    dominated by them."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d")],
        "doc_id long, text string",
    )
    assert dedup.unshingleable_count(docs, shingle_n=3) == 2
    assert dedup.unshingleable_count(docs, shingle_n=5) == 4
    # and the excluded docs indeed produce NULL simhash signatures
    sigs = dedup.simhash_signatures(docs).toPandas().set_index("doc_id")
    assert sigs.loc[1, "simhash"] is None or sigs.loc[1, "simhash"] != sigs.loc[1, "simhash"]
    assert sigs.loc[3, "simhash"] == sigs.loc[3, "simhash"]


@pytest.mark.slow  # ~15 s naive-enumeration differential; opt-in (r11, see pytest.ini)
def test_semantic_dedup_stats_equal_naive_enumeration(spark, sf_dir):
    """Round-4: q_dedup_semantic's collapsed per-cluster stats must be
    integer-identical to the naive within-cluster self-join's
    count / countDistinct(id_b) — on the raw corpus AND with planted
    byte-identical duplicates (the shape that made the naive form
    quadratic in duplicate multiplicity)."""
    from etl_asana_spark.functions import vector
    from etl_asana_spark.operators.similarity import kmeans_lloyd

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    planted = emb
    for r in (1, 2):
        planted = planted.unionByName(
            emb.select((F.col("vec_id") + 1_000_000 * r).alias("vec_id"), "embedding")
        )
    for corpus in (emb, planted):
        assigned = kmeans_lloyd(corpus, k=16, n_iter=2).select("vec_id", "cluster")
        vecs = corpus.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).join(assigned, "vec_id")
        a = vecs.select("cluster", F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
        b = vecs.select("cluster", F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
        naive = (
            a.join(b, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", vector.cosine("va", "vb"))
            .filter(F.col("cos") >= 0.28)
            .groupBy("cluster")
            .agg(
                F.count("*").alias("n_dup_pairs"),
                F.countDistinct("id_b").alias("n_to_drop"),
            )
        )
        naive_by_cluster = {
            r["cluster"]: (r["n_dup_pairs"], r["n_to_drop"]) for r in naive.collect()
        }
        got = dedup.semantic_dedup_stats(vecs, threshold=0.28).collect()
        assert got
        for r in got:
            exp = naive_by_cluster.get(r["cluster"], (0, 0))
            assert (r["n_dup_pairs"], r["n_to_drop"]) == exp, r["cluster"]


@pytest.mark.slow  # ~14 s all-pairs recall battery; opt-in (r11, see pytest.ini)
def test_semantic_dedup_pairs_subset_of_all_pairs(spark, sf_dir):
    """SemDeDup's within-cluster pairs must be a subset of the clusterless
    all-pairs scan at the same threshold (precision 1.0 by construction),
    with nonzero recall on this corpus — the k-way pruning may only MISS
    cross-cluster pairs, never invent pairs."""
    from etl_asana_spark.functions import vector
    from etl_asana_spark.operators.similarity import kmeans_lloyd

    emb = load_tables(spark, sf_dir)["embeddings"]
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    allp = (
        vecs.alias("a")
        .join(vecs.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(vector.cosine("a.v", "b.v") >= 0.28)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    )
    assigned = kmeans_lloyd(emb, k=16, n_iter=2).select("vec_id", "cluster")
    cv = vecs.join(assigned, "vec_id")
    within = (
        cv.alias("a")
        .join(cv.alias("b"), on=[F.col("a.cluster") == F.col("b.cluster")])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(vector.cosine("a.v", "b.v") >= 0.28)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    )
    n_all, n_within = allp.count(), within.count()
    assert within.exceptAll(allp).isEmpty()  # precision == 1
    assert 0 < n_within <= n_all


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """#25: the estimate must sit within a few sigma of the exact per-type
    distinct-user count (since r06 the registered key runs the PORTABLE
    HLL — m=4096, sigma ~1.6% — not Spark's HLL++; same bound)."""
    from etl_asana_spark import catalog

    approx = {
        r["event_type"]: r["approx_users"]
        for r in catalog.queries()["q_agg_approx_cd"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_tables(spark, sf_dir)["events"]
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for et, est in approx.items():
        assert abs(est - exact[et]) <= max(3, 0.06 * exact[et]), (et, est, exact[et])


def test_vocab_oov_rate_bounds_and_vocab_docs_score_zero(spark, sf_dir):
    """oov_rate ∈ [0,1]; the token-weighted OOV mass stays below 50% (a
    top-200 vocab over a synthetic bag-of-words corpus covers the head; at
    sf0.001 the corpus vocabulary fits entirely, giving exactly 0)."""
    rows = catalog.queries()["q_text_vocab_oov"](spark, sf_dir).collect()
    assert rows
    assert all(0.0 <= r["oov_rate"] <= 1.0 for r in rows)
    total = sum(r["n_tokens"] for r in rows)
    oov = sum(r["n_tokens"] * r["oov_rate"] for r in rows)
    assert 0.0 <= oov / total < 0.5


def test_dsir_weights_prefer_target_language(spark, sf_dir):
    """The importance weights must up-rank the target (English) slice:
    mean per-token weight of en docs strictly exceeds zh docs."""
    from etl_asana_spark.registry import load_tables

    w = catalog.queries()["q_dsir_weights"](spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang")
    per_lang = {
        r["lang"]: r["m"]
        for r in w.join(docs, "doc_id")
        .groupBy("lang")
        .agg(F.avg(F.col("w_logratio") / F.col("n_tokens")).alias("m"))
        .collect()
    }
    assert per_lang["en"] > per_lang["zh"]


def test_scrub_dup_spans_token_accounting(spark, sf_dir):
    """Scrubbed docs: cleaned token count == n_tokens - n_removed; docs with
    nothing removed keep their exact original text."""
    out = {
        r["doc_id"]: r
        for r in catalog.queries()["q_scrub_dup_spans"](spark, sf_dir).collect()
    }
    assert out
    originals = {
        r["doc_id"]: r["text"]
        for r in load_tables(spark, sf_dir)["documents"]
        .filter(F.col("lang") == "de")
        .collect()
    }
    assert set(out) == set(originals)
    for doc_id, r in out.items():
        kept = [t for t in r["cleaned_text"].split(" ") if t != ""]
        assert len(kept) == r["n_tokens"] - r["n_removed"]
        if r["n_removed"] == 0:
            assert r["cleaned_text"] == originals[doc_id]


@pytest.mark.slow  # ~90 s adversarial corpus battery; opt-in (r11, see pytest.ini)
def test_embed_dedup_blocked_adversarial_vectors(spark):
    """Degenerate vectors must behave identically in the blocked and
    all-pairs forms: zero vectors (NULL cosine via try_divide), NaN/Inf
    components, exact duplicates of a zero vector, and negatives. The
    grouping layer normalizes NaN/-0.0 (Spark's normalizenanandzero), so
    the collapse must not invent or lose pairs relative to the oracle."""
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),          # zero vector -> NULL cosine
        (2, [0.0, 0.0, 0.0, 0.0]),          # exact duplicate of the zero vec
        (3, [float("nan"), 1.0, 0.0, 0.0]),  # NaN component
        (4, [float("nan"), 1.0, 0.0, 0.0]),  # NaN duplicate (normalized equal)
        (5, [float("inf"), 1.0, 0.0, 0.0]),  # Inf component
        (6, [1.0, 2.0, 3.0, 4.0]),
        (7, [1.0, 2.0, 3.0, 4.0]),
        (8, [-1.0, -2.0, -3.0, -4.0]),      # antipodal to 6/7
        (9, [4.0, 3.0, 2.0, 1.0]),
        (10, [-0.0, 0.0, -0.0, 0.0]),       # negative zero vector
    ]
    import math

    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    def key(r):
        c = r["cos"]
        # NaN != NaN would fail the comparison even when both sides emit
        # the identical pair; canonicalize (Spark keeps NaN-cosine pairs —
        # NaN compares greater than any threshold).
        c = "nan" if c is None or math.isnan(c) else round(c, 10)
        return (r["id_a"], r["id_b"], c)

    for thr in (-1.0, 0.5, 0.95, 1.1):
        ap = dedup.embedding_cosine_dups(df, threshold=thr).collect()
        bl = dedup.embedding_cosine_dups_blocked(df, threshold=thr).collect()
        assert sorted(map(key, ap)) == sorted(map(key, bl)), thr


def test_embed_dedup_blocked_empty_and_singleton(spark):
    """Empty corpus and a single vector: no crash, empty pair set (the
    bounded cell collect returns zero cells; dim falls back to 0)."""
    empty = spark.createDataFrame([], "vec_id int, embedding array<float>")
    assert dedup.embedding_cosine_dups_blocked(empty).collect() == []
    one = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id int, embedding array<float>")
    assert dedup.embedding_cosine_dups_blocked(one).collect() == []


def test_semantic_dedup_stats_empty_and_degenerate(spark):
    """Empty input -> empty stats; a cluster of only zero vectors (NULL
    self-cosine) -> members counted, zero pairs, zero drops."""
    empty = spark.createDataFrame([], "vec_id int, v array<double>, cluster int")
    assert dedup.semantic_dedup_stats(empty).collect() == []
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0], 0), (2, [0.0, 0.0], 0), (3, [1.0, 1.0], 1)],
        "vec_id int, v array<double>, cluster int",
    )
    got = {r["cluster"]: r for r in dedup.semantic_dedup_stats(zeros).collect()}
    assert got[0]["n_members"] == 2 and got[0]["n_dup_pairs"] == 0 and got[0]["n_to_drop"] == 0
    assert got[1]["n_members"] == 1 and got[1]["n_dup_pairs"] == 0 and got[1]["n_to_drop"] == 0


def test_png_codec_round_trips_all_filters_and_color_types():
    """Pure-stdlib PNG codec: encode -> decode is the identity for every
    (color type, scanline filter) combination the decoder claims."""
    import random

    from etl_asana_spark.operators import png_codec as pc

    rng = random.Random(7)
    for ct, bpp in ((0, 1), (2, 3), (6, 4)):
        for ft in range(5):
            w, h = rng.randint(1, 23), rng.randint(1, 17)
            pix = bytes(rng.randrange(256) for _ in range(w * h * bpp))
            data = pc.encode_png(w, h, pix, color_type=ct, filter_type=ft)
            assert pc.is_png(data)
            assert pc.decode_png(data) == (w, h, bpp, pix), (ct, ft)


def test_png_fixture_runs_the_real_decode_kernel(spark, sf_dir):
    """Round-4: with real-PNG fixtures the feature extractor must take the
    REAL decode path (stdlib PNG tier) in this PIL-less container — every
    feat vector equals the luminance signature computed independently from
    the decoded pixels, and width/height are the TRUE image dims. The
    fixture cycles doc_id % 5 through all five PNG scanline filters, so
    this exercises every unfilter path end-to-end through mapInPandas."""
    from etl_asana_spark.operators import multimodal, png_codec

    docs = load_tables(spark, sf_dir)["documents"].limit(24)
    media = multimodal.attach_png_payload(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    out = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    assert set(out) == set(payloads) and len(out) >= 20
    for doc_id, payload in payloads.items():
        w, h, bpp, pix = png_codec.decode_png(payload)
        expect = png_codec.luma_signature(w, h, bpp, pix)
        row = out[doc_id]
        assert row["media_type"] == "image/png"
        assert (row["width"], row["height"]) == (w, h)
        got = list(row["feat"])
        assert len(got) == 8
        assert all(abs(a - b) < 1e-6 for a, b in zip(got, expect)), doc_id


def test_png_resize_real_path_emits_valid_resampled_pngs(spark, sf_dir):
    """resize_media's stdlib tier: every output payload must parse as a PNG
    of exactly the target dimensions, with pixels equal to the
    nearest-neighbor resample of the source image."""
    from etl_asana_spark.operators import multimodal, png_codec

    docs = load_tables(spark, sf_dir)["documents"].limit(10)
    media = multimodal.attach_png_payload(docs)
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    out = multimodal.resize_media(media, target_w=12, target_h=9).collect()
    assert len(out) == len(src)
    for r in out:
        w, h, bpp, pix = png_codec.decode_png(bytes(r["payload"]))
        assert (w, h, r["width"], r["height"]) == (12, 9, 12, 9)
        sw, sh, sbpp, spix = png_codec.decode_png(src[r["doc_id"]])
        assert pix == png_codec.resize_nearest(sw, sh, sbpp, spix, 12, 9)


@pytest.mark.slow  # ~45 s ragged-width battery; opt-in (r11, see pytest.ini)
def test_embed_dedup_blocked_handles_mixed_width_vectors(spark):
    """Round-4 review find: the unrolled verify dot took its width from
    the FIRST collected cell, so a mixed-width corpus computed truncated
    or NULL-poisoned cosines depending on nondeterministic collect order.
    The unroll now engages only for homogeneous-width corpora; ragged ones
    keep the HOF fold, whose unequal-length pairs get the same NULL
    cosine (dropped) as the all-pairs oracle."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),
        (3, [0.0, 0.0, 0.9, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 1.0, 0.0]),
        (5, [1.0, 0.0]),
        (6, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    for thr in (0.5, 0.95):
        ap = dedup.embedding_cosine_dups(df, threshold=thr).collect()
        bl = dedup.embedding_cosine_dups_blocked(df, threshold=thr).collect()
        key = lambda r: (r["id_a"], r["id_b"], round(r["cos"], 9))
        assert sorted(map(key, ap)) == sorted(map(key, bl)), thr
    # same-width near-dups found, cross-width pairs absent
    ids = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_cosine_dups_blocked(df, threshold=0.9).collect()}
    assert (1, 2) in ids and (3, 4) in ids and (5, 6) in ids
    assert not any({a, b} & {1, 2} and {a, b} & {5, 6} for a, b in ids)


def test_semantic_dedup_stats_split_identical_vectors_across_clusters(spark):
    """Round-4 review find: membership joined back on the vector value
    alone, so an assignment that splits an identical vector across
    clusters (ties, external labels — legal input for this operator)
    fanned members out to every same-valued group and corrupted
    n_to_drop. The join now keys on (cluster, v)."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),
        (3, [1.0, 0.0], 1),
        (4, [1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id int, v array<double>, cluster int")
    got = {r["cluster"]: r for r in dedup.semantic_dedup_stats(df, threshold=0.5).collect()}
    for c in (0, 1):
        assert got[c]["n_members"] == 2
        assert got[c]["n_dup_pairs"] == 1
        assert got[c]["n_to_drop"] == 1, got


def test_ivf_degenerate_path_excludes_null_vectors(spark):
    """Round-4 review find: the sub-2-row IVF fallback brute-forced the
    UNFILTERED frame, leaking NULL-vector rows (outside the operator's
    domain) into the top-k with NULL cos."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, None)],
        "vec_id bigint, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(7, [1.0, 0.0])], "query_id bigint, query_vec array<float>"
    )
    out = similarity.ivf_topk(emb, q, k=3).collect()
    assert [(r["query_id"], r["vec_id"]) for r in out] == [(7, 1)]


def test_unshingleable_count_matches_minhash_exclusions(spark):
    """Round-4 review find: the diagnostic used run-splitting while the
    minhash featurizer's plain Tokenizer split on single whitespace and
    kept empty tokens — 'alpha  beta' was counted unshingleable yet grew
    a phantom shingle and could pair. Both sides now agree on
    whitespace-run tokenization, and NULL text counts as excluded."""
    docs = spark.createDataFrame(
        [(1, "alpha  beta"), (2, "alpha beta"), (3, None),
         (4, " lead space only"), (5, "three token doc here")],
        "doc_id bigint, text string",
    )
    # docs 1,2 have 2 real tokens; 3 is NULL; 4 has 3 (no phantom empty)
    assert dedup.unshingleable_count(docs, shingle_n=3) == 3
    # and minhash indeed cannot pair the excluded docs: duplicate the
    # double-space doc — identical text, still no shingles, no pair
    dup = spark.createDataFrame(
        [(1, "alpha  beta"), (2, "alpha  beta")], "doc_id bigint, text string"
    )
    assert dedup.minhash_lsh_pairs(dup, jaccard_threshold=0.5).collect() == []


def test_png_decode_normalizes_corruption_to_valueerror():
    """Round-4 review find (reproduced): corrupt IDAT raised zlib.error
    and a malformed IHDR raised struct.error, escaping the kernels'
    ValueError-only dispatch and crashing the whole batch. decode_png now
    normalizes every parse failure to ValueError, and the dispatch falls
    through to the stub for any corrupt PNG-signatured payload."""
    import pytest

    from etl_asana_spark.operators import png_codec as pc
    from etl_asana_spark.operators.multimodal import _decode_payload

    good = pc.encode_png(3, 2, bytes(range(18)), color_type=2)
    bad_ihdr = good[:8] + b"\x00\x00\x00\x0dIHDRxx"          # truncated IHDR
    bad_idat = good[:-20] + b"corruptcorruptcorro"            # mangled tail
    for payload in (bad_ihdr, bad_idat):
        with pytest.raises(ValueError):
            pc.decode_png(payload)
        w, h, feats = _decode_payload(payload)  # stub path, not a crash
        assert len(feats) == 8


def test_fixed_point_join_degenerate_tokens(spark):
    """Round-4 review find: Spark's FLOOR(double) returns BIGINT and
    silently maps NaN to 0 and ±Inf to the LONG extremes — a NaN element
    serialized identically to a true 0.0. The boundary serializer now
    emits explicit nan/inf/-inf/null tokens."""
    from etl_asana_spark.functions.parity import fixed_point_join

    df = spark.createDataFrame(
        [(1, [0.5, float("nan"), float("inf"), float("-inf"), None, 0.0])],
        "id int, v array<double>",
    )
    got = df.select(fixed_point_join("v").alias("s")).collect()[0]["s"]
    assert got == "500000|nan|inf|-inf|null|0"


@pytest.mark.slow  # ~17 s duplicate battery; opt-in (r11, see pytest.ini)
def test_text_dedup_collapse_equals_naive_on_duplicate_heavy_corpus(spark):
    """The exact-duplicate collapse (collapse=True, the production default)
    must be bit-identical to the naive formulation for all three text
    fuzzy-dedup families — on a corpus that stresses every edge the
    collapse reasons about: copy multiplicities 1..6, near-dup clusters,
    empty / whitespace-only / sub-shingle texts, and a NULL text.

    Motivation (round-4 scale_rehearsal, 30×-duplication): the naive LSH
    bucket joins go quadratic in copy multiplicity — q_dedup_minhash cost
    160× for 30× data — while features/signatures/Jaccard depend only on
    the text, so pairing one representative per distinct text and
    expanding by join is provably the same answer set."""
    import random

    from etl_asana_spark.operators import dedup

    rng = random.Random(7)
    words = [f"w{i}" for i in range(50)]
    base = []
    for _ in range(40):
        n = rng.randint(1, 30)
        base.append(" ".join(rng.choice(words) for _ in range(n)))
    base += [base[0] + " extra", base[0] + " more extra", "", "  ", "one two"]
    rows, i = [], 0
    for t in base:
        for _ in range(rng.randint(1, 6)):
            rows.append((i, t))
            i += 1
    rows.append((i, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    for fn, cols, kw in [
        (dedup.minhash_lsh_pairs, ["id_a", "id_b", "jaccard_dist"], {}),
        (dedup.minhash_portable_pairs, ["id_a", "id_b", "jaccard_dist"], {}),
        (dedup.simhash_pairs, ["id_a", "id_b", "hamming"], {}),
        (dedup.simhash_portable_pairs, ["id_a", "id_b", "hamming"], {}),
        (dedup.ngram_jaccard_pairs, ["doc_a", "doc_b", "jaccard"],
         dict(threshold=0.5)),
        # prefix filtering: collapse changes the df-based candidate
        # ORDER (df over distinct texts) but the verified answer set is
        # order-independent — this case pins exactly that claim.
        (dedup.prefix_filter_jaccard_pairs, ["doc_a", "doc_b", "jaccard"],
         dict(threshold=0.5)),
    ]:
        got = canon(fn(docs, collapse=True, **kw), cols)
        want = canon(fn(docs, collapse=False, **kw), cols)
        assert got == want, (
            f"{fn.__name__}: collapse diverges from naive "
            f"(+{len(set(got) - set(want))} -{len(set(want) - set(got))})"
        )
        assert len(got) > 0, f"{fn.__name__}: degenerate test corpus"


@pytest.mark.slow  # ~18 s boundary battery; opt-in (r11, see pytest.ini)
def test_text_dedup_collapse_equals_naive_at_threshold_boundary(spark):
    """Collapse≡naive must hold AT the self-distance boundary, where the
    families' naive filters differ in strictness: approxSimilarityJoin
    keeps candidates with dist STRICTLY below 1-threshold (verified
    against spark-mllib 4.1.2 bytecode), so at jaccard_threshold=1.0 the
    naive minhash form emits NO pairs even for byte-identical docs — the
    review of the hand-expanded collapse branches found minhash emitting
    its within-group pairs unconditionally there (the other three copies
    had the guard; now all four share _collapsed_pairs and pin the
    boundary in emit_intra). The Jaccard families' filter is INCLUSIVE
    (jaccard >= threshold): identical docs still pair at threshold=1.0
    and stop pairing above it; simhash stops at max_hamming < 0."""
    from etl_asana_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),   # byte-identical copy
            (2, "alpha beta gamma epsilon"), # near-dup
            (3, "too short"),                # unshingleable at n=3
        ],
        "doc_id long, text string",
    )

    def canon(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    cases = [
        (dedup.minhash_lsh_pairs, ["id_a", "id_b", "jaccard_dist"],
         dict(jaccard_threshold=1.0)),
        (dedup.simhash_pairs, ["id_a", "id_b", "hamming"],
         dict(max_hamming=-1)),
        (dedup.ngram_jaccard_pairs, ["doc_a", "doc_b", "jaccard"],
         dict(threshold=1.0)),
        (dedup.ngram_jaccard_pairs, ["doc_a", "doc_b", "jaccard"],
         dict(threshold=1.5)),
        (dedup.prefix_filter_jaccard_pairs, ["doc_a", "doc_b", "jaccard"],
         dict(threshold=1.0)),
        (dedup.prefix_filter_jaccard_pairs, ["doc_a", "doc_b", "jaccard"],
         dict(threshold=1.5)),
    ]
    for fn, cols, kw in cases:
        got = canon(fn(docs, collapse=True, **kw), cols)
        want = canon(fn(docs, collapse=False, **kw), cols)
        assert got == want, (
            f"{fn.__name__}({kw}): collapse diverges from naive at the "
            f"boundary (+{len(set(got) - set(want))} "
            f"-{len(set(want) - set(got))})"
        )
    # the inclusive Jaccard boundary is non-degenerate: identical docs
    # DO pair at exactly threshold=1.0 ...
    assert (
        len(canon(dedup.ngram_jaccard_pairs(
            docs, threshold=1.0), ["doc_a", "doc_b"])) > 0
    )
    # ... while the strict minhash boundary emits nothing there.
    assert canon(dedup.minhash_lsh_pairs(
        docs, jaccard_threshold=1.0), ["id_a", "id_b"]) == []


def test_ngram_dedup_clusters_wrapper_matches_hand_assembly(spark):
    """ngram_dedup_clusters (the family-level wrapper both production
    call sites use) must equal the hand-assembled rep_pairs_fn/pairable
    pair it replaces — the wrapper exists so the two halves derive from
    one (n, threshold) and cannot drift per call site."""
    from pyspark.sql import functions as F

    from etl_asana_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon zeta"),
            (3, "too short"),
            (4, "too short"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        tuple(r) for r in dedup.ngram_dedup_clusters(
            docs, n=3, threshold=0.1).collect()
    )
    want = sorted(
        tuple(r)
        for r in dedup.dedup_clusters_collapsed(
            docs,
            rep_pairs_fn=lambda reps: dedup.ngram_jaccard_pairs(
                reps, n=3, threshold=0.1, collapse=False
            ).select("doc_a", "doc_b"),
            pairable=F.size(F.split(F.col("vec"), r"\s+")) >= 3,
        ).collect()
    )
    assert got == want
    assert len(got) == 6
    # the duplicated short docs are singletons; the three near-dup texts
    # (including the identical pair) merge into one cluster.
    sizes = {r[0]: (r[1], r[2]) for r in got}
    assert sizes[3][0] != sizes[4][0]
    assert sizes[0][0] == sizes[1][0] == sizes[2][0]


def test_dedup_clusters_collapsed_equals_member_level_cc(spark):
    """dedup_clusters_collapsed (components over the distinct-text rep
    graph, the q_dedup_clusters production path) must equal member-level
    pairs → connected components on a duplicate-heavy corpus — including
    the singleton rules: unshingleable duplicated texts (each copy its own
    cluster) and a NULL-text doc. Motivation: member-level edges are
    quadratic in copy multiplicity; the 30×-duplication rehearsal OOM'd on
    them before the collapse."""
    import random

    from pyspark.sql import functions as F

    from etl_asana_spark.operators import dedup

    rng = random.Random(11)
    words = [f"w{i}" for i in range(30)]
    base = [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 20)))
        for _ in range(30)
    ]
    base += [base[0] + " x", base[1] + " y z", "", " ", "a b"]
    rows, i = [], 0
    for t in base:
        for _ in range(rng.randint(1, 5)):
            rows.append((i, t))
            i += 1
    rows.append((i, None))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1).select(
        "doc_a", "doc_b"
    )
    want = sorted(tuple(r) for r in dedup.dedup_clusters(pairs, docs).collect())
    got = sorted(
        tuple(r)
        for r in dedup.dedup_clusters_collapsed(
            docs,
            rep_pairs_fn=lambda reps: dedup.ngram_jaccard_pairs(
                reps, n=3, threshold=0.1, collapse=False
            ).select("doc_a", "doc_b"),
            pairable=F.size(F.split(F.col("vec"), r"\s+")) >= 3,
        ).collect()
    )
    assert got == want
    assert len(got) == len(rows)


def test_png_resize_matches_numpy_reference_random_dims():
    """Round-5: resize_nearest gained a by-source-row cache and encode_png a
    filter-0 fast path — property-scan both against a numpy nearest-neighbor
    reference over random dims (up- and down-scales, all color types) with
    an encode→decode round-trip at a random scanline filter."""
    import random

    import numpy as np

    from etl_asana_spark.operators import png_codec as pc

    rng = random.Random(99)
    for _ in range(60):
        ct, bpp = rng.choice([(0, 1), (2, 3), (6, 4)])
        w, h = rng.randint(1, 40), rng.randint(1, 30)
        nw, nh = rng.randint(1, 50), rng.randint(1, 40)
        pix = bytes(rng.randrange(256) for _ in range(w * h * bpp))
        got = pc.resize_nearest(w, h, bpp, pix, nw, nh)
        a = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, bpp)
        ys = np.minimum(np.arange(nh) * h // nh, h - 1)
        xs = np.minimum(np.arange(nw) * w // nw, w - 1)
        assert got == a[ys][:, xs].tobytes(), (ct, (w, h), (nw, nh))
        ft = rng.randrange(5)
        data = pc.encode_png(nw, nh, got, color_type=ct, filter_type=ft)
        assert pc.decode_png(data) == (nw, nh, bpp, got), (ct, ft)


def test_lloyd_cte_oracle_is_dimension_independent():
    """r05 advice: the Lloyd-fixpoint oracle CTE hardcoded d=64; with a
    different embedding width it would silently sum distances over a stale
    generate_series range (out-of-range list index -> NULL, list_sum skips
    NULLs) instead of failing loudly. The CTE now derives the dimension from
    len(vector) in SQL — proven here by replaying it on a d=3 corpus the
    fixture never shipped and matching a from-scratch numpy Lloyd that
    implements the same documented rules (first-k-ids init, (dist2, cluster)
    tie-break, empty clusters keep their centroid)."""
    import duckdb
    import numpy as np
    import pandas as pd

    from etl_asana_spark.queries_llm import _lloyd_cte_sql

    rng = np.random.default_rng(7)
    n, d, k, n_iter = 40, 3, 3, 3
    x = rng.normal(size=(n, d)).round(3)

    cents = x[:k].copy()  # init: first k by vec_id
    for _ in range(n_iter):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        asg = d2.argmin(axis=1)  # argmin takes the lowest index on ties
        for c in range(k):
            if (asg == c).any():
                cents[c] = x[asg == c].mean(axis=0)
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    expected = d2.argmin(axis=1)

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame({"vec_id": range(n), "embedding": [list(r) for r in x]}),
    )
    got = con.execute(
        _lloyd_cte_sql(k=k, n_iter=n_iter)
        + "\nSELECT vec_id, cluster FROM asg ORDER BY vec_id"
    ).fetchdf()
    con.close()
    assert got["cluster"].tolist() == expected.tolist()


def test_minhash_portable_pairs_are_true_near_dups(spark, sf_dir):
    """The r06 registered q_dedup_minhash (portable poly_hash family) must
    keep the xxhash64 family's precision contract: every emitted pair is a
    true shingle-set near-dup (collision slack around the 0.5 threshold),
    ordered id_a < id_b, and the pair set stays a near-dup TAIL rather
    than a vocabulary clique."""
    t = load_tables(spark, sf_dir)
    pairs = catalog.queries()["q_dedup_minhash"](spark, sf_dir).collect()
    assert pairs  # the corpus plants a near-dup tail; empty = lost recall

    def shingle_set(text):
        toks = text.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    docs = {
        r["doc_id"]: shingle_set(r["text"])
        for r in t["documents"].select("doc_id", "text").collect()
    }
    n_docs = len(docs)
    for row in pairs:
        a, b = docs[row["id_a"]], docs[row["id_b"]]
        true_j = len(a & b) / len(a | b)
        assert true_j >= 0.4, (row, true_j)
        assert row["id_a"] < row["id_b"]
        assert 0.0 <= row["jaccard_dist"] < 0.5
    assert len(pairs) < 0.02 * n_docs * (n_docs - 1) / 2


def test_simhash_portable_signature_and_pair_invariants(spark, sf_dir):
    """The r06 registered q_dedup_simhash (portable 40-bit poly-hash
    family) keeps the 64-bit family's contracts: deterministic signatures
    in [0, 2^40), identical text -> identical signature, sub-shingle docs
    get NULL and never pair, emitted Hamming within [0, 8], and the pair
    set is a near-dup tail, not a vocabulary clique."""
    t = load_tables(spark, sf_dir)
    s1 = dedup.simhash_portable_signatures(t["documents"]).collect()
    s2 = dedup.simhash_portable_signatures(t["documents"]).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    for r in s1:
        if r["simhash"] is not None:
            assert 0 <= r["simhash"] < (1 << 40)
    dup = t["documents"].select("doc_id", F.lit("alpha beta gamma").alias("text"))
    assert len({r["simhash"] for r in
                dedup.simhash_portable_signatures(dup).collect()}) == 1
    short = spark.createDataFrame(
        [(1, "hello"), (2, "two words"), (3, "three whole tokens")],
        "doc_id bigint, text string",
    )
    by_id = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash_portable_signatures(short).collect()}
    assert by_id[1] is None and by_id[2] is None and by_id[3] is not None
    assert dedup.simhash_portable_pairs(short).collect() == []
    pairs = catalog.queries()["q_dedup_simhash"](spark, sf_dir).collect()
    for row in pairs:
        assert 0 <= row["hamming"] <= 8
        assert row["id_a"] < row["id_b"]
    n_docs = t["documents"].count()
    assert len(pairs) < 0.05 * n_docs * (n_docs - 1) / 2


def test_poly_hash_cross_engine_exact_on_unicode(spark):
    """The poly_hash primitive now underpins THREE oracled keys
    (fingerprint r5; minhash + simhash r6), so its cross-engine equality
    must hold beyond ASCII: Spark's split('')/ascii() iterates full
    codepoints (not UTF-16 units) exactly like DuckDB's
    string_split('')/unicode() — pinned here on combining marks, CJK,
    emoji, a supplementary-plane char, an embedded NUL, and RTL text."""
    import duckdb

    from etl_asana_spark.operators.text import poly_hash

    tests = ["hello", "héllo", "日本語", "😀🎉", "𐍈 gothic", "a\x00b", "مرحبا"]
    df = spark.createDataFrame([(s,) for s in tests], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", poly_hash("s").alias("h")).collect()}
    con = duckdb.connect()
    for s in tests:
        expected = con.execute(
            "SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),"
            " list_transform(string_split(?, ''),"
            " c -> CAST(unicode(c) AS BIGINT))),"
            " (a, x) -> (a * 131 + x) % 1099511627776)",
            [s],
        ).fetchone()[0]
        assert got[s] == expected, (s, got[s], expected)
    con.close()


def test_portable_hll_rollup_merge_equals_direct_sketch(spark, sf_dir):
    """The r06 portable-HLL re-aggregation property: MAX-merging the DAILY
    register tables up to weeks yields register-identical state — and
    therefore identical estimates — to sketching each week directly from
    the fact table. This is the property that lets a 100 TB pipeline keep
    only the small register table and answer any coarser rollup without
    rescanning."""
    from etl_asana_spark.operators import sketch

    ev = load_tables(spark, sf_dir)["events"]
    daily = sketch.hll_build(
        ev.withColumn("day", F.date_trunc("day", "ts")), "user_id", ["day"]
    )
    merged = (
        daily.groupBy(F.date_trunc("week", "day").alias("week"), "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    direct = sketch.hll_build(
        ev.withColumn("week", F.date_trunc("week", F.date_trunc("day", "ts"))),
        "user_id",
        ["week"],
    )
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b


def test_portable_hll_estimate_register_sum_is_exact(spark):
    """Every 2^-rho register term is an exact binary fraction and the
    whole sum spans < 52 mantissa bits, so the estimate's denominator is
    order-independent — pinned by comparing against a Fraction-exact
    reference on a synthetic register table hitting both rho extremes."""
    from fractions import Fraction

    from etl_asana_spark.operators import sketch

    regs = [(1, i % sketch.HLL_M, (i % 31) + 1) for i in range(3000)]
    regs += [(1, 4001, 32)]  # the h2 == 0 extreme
    df = spark.createDataFrame(regs, "g int, bucket long, rho int").groupBy(
        "g", "bucket"
    ).agg(F.max("rho").alias("rho"))
    rows = df.collect()
    s_exact = sum(Fraction(1, 2 ** r["rho"]) for r in rows)
    zeros = sketch.HLL_M - len(rows)
    raw = sketch.HLL_ALPHA * sketch.HLL_M**2 / float(s_exact + zeros)
    got = sketch.hll_estimate(df, ["g"]).collect()[0]["hll_estimate"]
    import math

    expected = (
        sketch.HLL_M * math.log(sketch.HLL_M / zeros)
        if raw <= 2.5 * sketch.HLL_M and zeros > 0
        else raw
    )
    assert got == expected


def test_decode_partitions_volume_rule(spark, sf_dir, tmp_path):
    """r10 fan-out rule: tiny inputs get sub-core fan-out, big inputs keep
    the core count, work_factor scales the estimate, unprobeable paths
    fall back to the core count (the pre-r10 behavior)."""
    from etl_asana_spark.operators import multimodal

    cores = spark.sparkContext.defaultParallelism
    target = multimodal._PY_TASK_TARGET_BYTES

    one = tmp_path / "one.bin"
    one.write_bytes(b"x" * (target // 2))
    assert multimodal.decode_partitions(spark, str(one)) == 1

    # work_factor multiplies the partition estimate (before the core cap)
    assert multimodal.decode_partitions(spark, str(one), work_factor=6.0) == min(
        cores, 3
    )

    big = tmp_path / "big.bin"
    big.write_bytes(b"x" * (target * (cores + 5)))
    assert multimodal.decode_partitions(spark, str(big)) == cores

    # directories sum their files
    d = tmp_path / "dir"
    d.mkdir()
    (d / "a").write_bytes(b"x" * target)
    (d / "b").write_bytes(b"x" * target)
    assert multimodal.decode_partitions(spark, str(d)) == min(cores, 2)

    # unprobeable path: keep the core count, never raise
    assert (
        multimodal.decode_partitions(spark, str(tmp_path / "missing.bin"))
        == cores
    )

    # the registered multimodal keys still produce one feature row per doc
    # through the rule (partitioning must not change results)
    fn = catalog.queries()["q_multimodal"]
    docs = load_tables(spark, sf_dir)["documents"]
    assert fn(spark, sf_dir).count() == docs.count()
