"""Degenerate-input behavior of the core operators.

At 100 TB the degenerate shapes are not hypothetical: a partition filter can
zero out a day, a tenant can have exactly one row, a measure column can be
entirely NULL for a slice. Operators must return EMPTY/NULL results with the
correct schema — not throw — because a scheduled pipeline hitting an empty
day must produce an empty output, not a page.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_asana_spark.functions.parity import davg, dsum
from etl_asana_spark.operators.dedup import (
    connected_components,
    dedup_clusters,
    dedup_exact,
    minhash_portable_pairs,
    ngram_jaccard_pairs,
    simhash_portable_pairs,
)
from etl_asana_spark.operators.joins import asof_join


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


def test_dsum_davg_on_all_null_and_empty(spark):
    """SUM semantics: NULL over an empty/all-NULL group, never 0 or a crash."""
    empty = spark.createDataFrame([], "k string, x double")
    row = empty.groupBy("k").agg(dsum("x").alias("s")).collect()
    assert row == []  # no groups at all

    nulls = spark.createDataFrame([("a", None), ("a", None)], "k string, x double")
    got = nulls.groupBy("k").agg(
        dsum("x").alias("s"), davg("x").alias("m")
    ).collect()[0]
    assert got["s"] is None and got["m"] is None

    # global (no grouping key) aggregate over empty input: one NULL row,
    # exactly like SQL's SELECT SUM(x) FROM empty
    g = empty.agg(dsum("x").alias("s")).collect()
    assert len(g) == 1 and g[0]["s"] is None


def test_dsum_mixed_null_rows_ignore_nulls(spark):
    df = spark.createDataFrame(
        [("a", 1.5), ("a", None), ("a", 2.5)], "k string, x double"
    )
    got = df.groupBy("k").agg(dsum("x").alias("s"), davg("x").alias("m")).collect()[0]
    assert got["s"] == 4.0
    assert got["m"] == 2.0  # count excludes the NULL


def test_dedup_exact_empty_and_singleton(spark):
    empty = spark.createDataFrame([], "k bigint, v string")
    assert dedup_exact(empty, keys=["k"], order_by=["v"]).collect() == []
    one = spark.createDataFrame([(1, "x")], "k bigint, v string")
    assert dedup_exact(one, keys=["k"], order_by=["v"]).count() == 1


def test_fuzzy_pair_generators_on_empty_corpus(spark):
    docs = _empty_docs(spark)
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.1).collect() == []
    assert minhash_portable_pairs(docs, jaccard_threshold=0.5).collect() == []
    assert simhash_portable_pairs(docs).collect() == []


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(edges).collect() == []


def test_dedup_clusters_no_pairs_all_singletons(spark):
    """A corpus with zero near-dup pairs: every doc is its own canonical
    singleton cluster — the everyday case for a clean slice."""
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    out = {r["doc_id"]: r for r in dedup_clusters(pairs, docs).collect()}
    assert set(out) == {1, 2, 3}
    for doc_id, r in out.items():
        assert r["cluster_id"] == doc_id
        assert r["cluster_size"] == 1
        assert r["is_canonical"] is True


def test_asof_join_no_candidates_is_empty_inner(spark):
    probe = spark.createDataFrame([(1, 100)], "k bigint, t bigint")
    build = spark.createDataFrame([(1, 200)], "k bigint, t2 bigint")
    # backward as-of with every build time AFTER the probe: inner semantics
    # drop the probe row (no candidate at-or-before)
    out = asof_join(probe, build, on="k", probe_time="t", build_time="t2")
    assert out.collect() == []
    # forward direction finds it
    fwd = asof_join(
        probe, build, on="k", probe_time="t", build_time="t2", direction="forward"
    )
    assert [tuple(r) for r in fwd.collect()] == [(1, 100, 200)]


def test_asof_join_rejects_bad_direction(spark):
    df = spark.createDataFrame([(1, 1)], "k bigint, t bigint")
    with pytest.raises(ValueError):
        asof_join(df, df, on="k", probe_time="t", build_time="t", direction="nearest ")


def test_window_rank_single_row_group(spark):
    """Window ops over singleton partitions: rank 1, lag NULL, sum = self."""
    from pyspark.sql import Window

    df = spark.createDataFrame([("g", 5.0)], "g string, x double")
    w = Window.partitionBy("g").orderBy("x")
    got = df.select(
        F.row_number().over(w).alias("rn"),
        F.lag("x").over(w).alias("prev"),
        F.sum("x").over(w).alias("run"),
    ).collect()[0]
    assert (got["rn"], got["prev"], got["run"]) == (1, None, 5.0)


import pytest as _pytest


@_pytest.mark.slow  # ~2-3 min/shape: full-catalog battery, opt-in (r11)
@_pytest.mark.parametrize("shape", [0, 1, "nullcols", "unicode"])
def test_every_catalog_key_survives_degenerate_corpus(
    spark, sf_dir, tmp_path_factory, shape
):
    """Round-4 catalog-wide invariant: EVERY registered key must run on a
    dataset whose tables all have ZERO rows or ONE row (exact driver
    schemas, pyarrow-written so the events nanos annotation survives) — at
    100 TB a partition filter zeroing a slice down to nothing, or to a
    single straggler row, is routine, and a scheduled pipeline must
    produce a (possibly empty) output, not a page. First runs of this
    sweep found eleven crashers: ZeroDivisionError in pagerank's 1/n
    teleport, a numpy AxisError in the batched cosine UDF, MLlib fit
    errors in ANN/IVF/PCA (empty corpus, k > n rows, covariance of one
    row), UNABLE_TO_INFER_SCHEMA in the two write-then-read keys whose
    empty write produced no data files, and ANSI DIVIDE_BY_ZERO in the
    anomaly z-score (stddev 0) and the quantile sketch's bin width
    (hi == lo).

    The "nullcols" shape (every non-key column NULL, 50 rows — the shape
    of a failed upstream extraction) found thirteen more, all in
    Python-side kernels and ML entry points: None.split in the token
    UDTF, NaN token counts in sequence packing, None payloads in the
    multimodal decoders, NULL text crashing the ML Tokenizer, NULL
    vectors crashing numpy matmul / MLlib fits / the k-means init
    collect, and NaT event times arming a pre-watermark timeout that
    killed the sessionize stream. Policy everywhere: a row that is NULL
    in the operative column is outside the operator's domain (SQL
    aggregates skip NULLs) — excluded, never a crash."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_asana_spark import catalog

    dst = str(tmp_path_factory.mktemp(f"degen_sf_{shape}"))
    keep = lambda n: n.endswith("key") or n.endswith("_id") or n == "l_linenumber"
    for name in os.listdir(sf_dir):
        if shape == 0:
            schema = pq.read_schema(f"{sf_dir}/{name}")
            table = pa.table(
                {f.name: pa.array([], f.type) for f in schema}, schema=schema
            )
        elif shape == 1:
            table = pq.read_table(f"{sf_dir}/{name}").slice(0, 1)
        elif shape == "unicode":  # adversarial text in text/title columns
            adv = [
                "😀🎉🚀 emoji only 🌍",
                "日本語のテキスト 中文 한국어",
                "مرحبا بالعالم",
                "áé combining éé marks",
                "tab\tnewline\nnull\x00control\x07",
                "😀" * 300,          # a single 300-emoji token
                " ​‍﻿ zero width ",
                "one",                        # 1 token: sub-shingle-width
                "two words",                  # 2 tokens: sub-shingle-width
                "𐍈𐍉 gothic supplementary plane",
            ]
            t = pq.read_table(f"{sf_dir}/{name}").slice(0, 60)
            table = pa.table(
                {
                    f.name: (
                        pa.array(
                            [adv[i % len(adv)] for i in range(len(t))], f.type
                        )
                        if f.name in ("text", "title")
                        else t[f.name]
                    )
                    for f in t.schema
                },
                schema=t.schema,
            )
        else:  # nullcols: keys kept, every other column NULL
            t = pq.read_table(f"{sf_dir}/{name}").slice(0, 50)
            table = pa.table(
                {
                    f.name: (t[f.name] if keep(f.name) else pa.nulls(len(t), f.type))
                    for f in t.schema
                },
                schema=t.schema,
            )
        pq.write_table(table, f"{dst}/{name}")
    failures = []
    for key, fn in catalog.queries().items():
        try:
            fn(spark, dst).count()
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures.append((key, type(ex).__name__, str(ex).split("\n")[0][:120]))
    assert not failures, failures
