"""User-defined function surface (SURVEY §2.11 #63–#67).

Engine policy (100 TB posture): built-in JVM expressions first; when Python
is unavoidable, Arrow-batched pandas UDFs / applyInPandas — never
row-at-a-time pickling in a hot path. The row-at-a-time scalar UDF and the
Python UDTF are included because they are part of the capability surface,
with their cost stated here rather than discovered in production.

Every UDx here is oracle-checked against the equivalent relational SQL — the
point is that the UDx computes something SQL could verify, on data SQL can
reach.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .catalog import register
from .registry import load_tables, register_views


@register(
    "q_udf_python",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_words
    FROM documents
    WHERE lang = 'en'
    """,
)
def q_udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#63 Row-at-a-time Python scalar UDF (word count).

    The slow path: every row crosses JVM→Python pickled. Kept for API
    parity; q_udf_pandas is the same computation at Arrow batch speed.
    Tokenizer unified on ``\\s+`` in round 7 (r06 verdict item 7): the
    UDF's ``re.split`` agrees with DuckDB's regexp_split_to_array on the
    probed corner cases (boundary empties kept, interior runs collapse).
    """
    import re

    t = load_tables(spark, sf_dir)
    # re.ASCII pins Python's \s to [ \t\n\r\f\v] — the same class Java
    # regex (Spark) and RE2 (DuckDB) give \s by default; Python's unicode
    # \s would additionally split on \xa0 etc. and silently diverge.
    ws = re.compile(r"\s+", re.ASCII)

    # No type hints: with them PySpark tries to infer a pandas UDF eval
    # type and warns that it cannot, on every build of this key.
    @F.udf("int")
    def n_words(text):
        return len(ws.split(text))

    return (
        t["documents"]
        .filter(F.col("lang") == "en")
        .select("doc_id", n_words("text").alias("n_words"))
    )


@register(
    "q_udf_pandas",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_computed,
           CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT) AS n_words
    FROM documents
    """,
)
def q_udf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#64 Vectorized pandas UDF: whole Arrow batches, pandas string ops.
    Tokenizer unified on ``\\s+`` in round 7 (r06 verdict item 7)."""
    t = load_tables(spark, sf_dir)

    @pandas_udf("long")
    def char_count(texts: pd.Series) -> pd.Series:
        return texts.str.len().astype("int64")

    @pandas_udf("long")
    def word_count(texts: pd.Series) -> pd.Series:
        import re

        # ASCII \s to match Java/RE2 semantics (see q_udf_python)
        return (
            texts.str.split(re.compile(r"\s+", re.ASCII))
            .str.len()
            .astype("int64")
        )

    return t["documents"].select(
        "doc_id",
        char_count("text").alias("n_chars_computed"),
        word_count("text").alias("n_words"),
    )


@register(
    "q_udaf_grouped",
    oracle="""
    SELECT lang,
           ROUND(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 6) AS median_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_udaf_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#65 Grouped-aggregate pandas UDF (UDAF): per-language median doc
    length computed in pandas, checked against the relational median."""
    t = load_tables(spark, sf_dir)

    @pandas_udf("double")
    def median_chars(chars: pd.Series) -> float:
        return float(chars.median())

    return (
        t["documents"]
        .groupBy("lang")
        .agg(F.round(median_chars("n_chars"), 6).alias("median_chars"))
    )


@register(
    "q_udtf_grouped_map",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN (MAX(n_chars) OVER byl) = (MIN(n_chars) OVER byl) THEN 0.5
                ELSE CAST(n_chars - MIN(n_chars) OVER byl AS DOUBLE)
                     / (MAX(n_chars) OVER byl - MIN(n_chars) OVER byl)
           END AS chars_scaled
    FROM documents
    WINDOW byl AS (PARTITION BY lang)
    """,
)
def q_udtf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#66 Grouped-map applyInPandas: min-max scale doc length within each
    language (per-group DataFrame→DataFrame; one shuffle on the group key,
    then pure pandas per group — the custom-stateful-transform workhorse)."""
    t = load_tables(spark, sf_dir)

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf["n_chars"].min(), pdf["n_chars"].max()
        if hi == lo:
            scaled = pd.Series(0.5, index=pdf.index)
        else:
            scaled = (pdf["n_chars"] - lo).astype("float64") / float(hi - lo)
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "chars_scaled": scaled}
        )

    return (
        t["documents"]
        .select("doc_id", "lang", "n_chars")
        .groupBy("lang")
        .applyInPandas(scale, schema="doc_id long, lang string, chars_scaled double")
    )


@register(
    "q_udtf_tokens",
    oracle="""
    SELECT doc_id, CAST(u.i AS INT) AS pos, u.token
    FROM documents,
         (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS token,
                 generate_subscripts(regexp_split_to_array(text, '\\s+'), 1)
                     AS i) u
    WHERE lang = 'de'
    """,
)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#67 Python UDTF: one row in → token rows out (table function),
    lateral-joined in SQL. Row-at-a-time Python; the production-scale
    equivalent is posexplode(split(...)) — which the oracle mirrors.
    Tokenizer unified on ``\\s+`` in round 7 (r06 verdict item 7)."""
    import re

    from pyspark.sql.functions import udtf

    register_views(spark, sf_dir)

    @udtf(returnType="pos int, token string")
    class Tokens:
        def eval(self, text: str):
            if text is None:
                return  # split(NULL) explodes to zero rows in the oracle too
            # ASCII \s to match Java/RE2 semantics (see q_udf_python)
            for i, tok in enumerate(re.split(r"\s+", text, flags=re.ASCII)):
                yield i + 1, tok

    spark.udtf.register("engine_tokens", Tokens)
    return spark.sql(
        """
        SELECT d.doc_id, f.pos, f.token
        FROM documents d, LATERAL engine_tokens(d.text) f
        WHERE d.lang = 'de'
        """
    )


@register(
    "q_win_ema",
    oracle="""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    rec AS (
        SELECT user_id, event_id, value, rn, value AS ema
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.event_id, s.value, s.rn,
               (1.0 - 0.2) * r.ema + 0.2 * s.value
        FROM seq s JOIN rec r
          ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, value, ROUND(ema, 6) AS ema FROM rec
    """,
)
def q_win_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of event value per user
    (α=0.2, adjust-free recurrence ema_t = α·x_t + (1−α)·ema_{t−1}).

    A NON-associative linear recurrence — the operator class plain windows
    cannot express (no partial aggregation exists; the naive closed form
    overflows (1−α)^{−t}). The scalable shape: one shuffle on the key,
    then an Arrow-batched sequential fold per group.

    r11 (guide §4.3): the previous ``groupBy.applyInPandas`` paid one
    Python call + pandas frame build + pandas sort PER USER (1 500 calls
    at sf0.1 — ≈2 ms each dominated the query). Now the per-group sort is
    one JVM ``sortWithinPartitions`` after the same hash exchange, only
    the three needed columns cross the Arrow boundary (ts stays in the
    JVM — the sort already encoded it), and ONE ``mapInPandas`` kernel
    per partition runs pandas' Cython grouped ewm over whole batches
    (:func:`_ema_batches`, which carries the recurrence exactly across
    Arrow batch boundaries). Same floats: pandas applies the identical
    ewm kernel per group, and the carry row reproduces the kernel state
    bit-for-bit (proven by the differential test and the kernel test).

    Oracle-checked despite the fixpoint: the DuckDB oracle steps the SAME
    recurrence through a recursive CTE, advancing every user one event per
    iteration, with the multiplication written exactly as pandas computes
    it under ``adjust=False`` — ``(1.0 - α)·prev + α·x`` (note 1.0-0.2 is
    one ulp off the 0.8 literal; the order and operand shapes match the
    fold bit-for-bit, and the 6-dp round absorbs accumulated ulp drift).
    The recurrence is additionally re-verified in pure Python in
    tests/test_udx_extra.py.
    """
    t = load_tables(spark, sf_dir)

    return (
        t["events"]
        .select("user_id", "ts", "event_id", "value")
        .repartition("user_id")
        # NULLS LAST matches the pandas sort_values(na_position="last")
        # the per-group path used (no shipped ts/event_id is NULL; the
        # rule is pinned so the orders agree wherever they CAN differ).
        .sortWithinPartitions(
            F.col("user_id").asc(),
            F.col("ts").asc_nulls_last(),
            F.col("event_id").asc_nulls_last(),
        )
        .select("user_id", "event_id", "value")
        .mapInPandas(
            _ema_batches,
            schema="user_id long, event_id long, value double, ema double",
        )
        .withColumn("ema", F.round("ema", 6))
    )


def _ema_batches(batches):
    """Partition-wise EMA kernel for :func:`q_win_ema`.

    Input batches are slices of ONE partition, sorted by
    (user_id, ts, event_id), so each user's rows are contiguous and a
    user can only straddle a batch boundary at the batch head. The
    recurrence state of an ewm(adjust=False) kernel between valid points
    is exactly its last output value, so prepending the carried
    (user, last_ema) as a synthetic first row and dropping it afterwards
    continues the fold bit-for-bit (tests/test_udx_extra.py pins this
    against an unsplit reference).

    Grouped ewm runs in pandas' Cython window kernel once per batch —
    no per-group Python dispatch, no per-group frame builds. NaN values
    inside a group (impossible for the catalog's events snapshots, and
    outside the oracle-checked domain — the recursive CTE would poison
    the tail to NULL instead) would make the kernel state richer than
    one float only when a NaN-bearing group also straddles a batch
    boundary; NULL user_ids keep their own group (``dropna=False``),
    matching Spark's grouping semantics, and carry across a boundary like
    any other key (NULL == NULL here, as in the grouping).
    """
    seen = False  # a batch has been emitted, so last_user/last_ema are set
    last_user = None
    last_ema = None
    for pdf in batches:
        if not len(pdf):
            continue
        head_user = pdf["user_id"].iloc[0]
        if pd.isna(head_user) or pd.isna(last_user):
            same_user = pd.isna(head_user) and pd.isna(last_user)
        else:
            same_user = head_user == last_user
        prepended = seen and same_user
        if prepended:
            head = pd.DataFrame(
                {
                    "user_id": pd.array([last_user], dtype=pdf["user_id"].dtype),
                    "event_id": pd.array([0], dtype=pdf["event_id"].dtype),
                    "value": pd.array([last_ema], dtype=pdf["value"].dtype),
                }
            )
            pdf = pd.concat([head, pdf], ignore_index=True)
        ema = (
            pdf.groupby("user_id", sort=False, dropna=False)["value"]
            .ewm(alpha=0.2, adjust=False)
            .mean()
            .reset_index(level=0, drop=True)
            .sort_index()  # restore row order whatever the group order
            .to_numpy()
        )
        out = pdf.copy()
        out["ema"] = ema
        if prepended:
            out = out.iloc[1:]
        seen = True
        last_user = pdf["user_id"].iloc[-1]
        last_ema = ema[-1]
        yield out
