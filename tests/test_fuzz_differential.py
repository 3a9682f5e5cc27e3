"""Randomized differential testing: one seeded query AST, two engines.

The 227 catalog keys pin fixed query shapes; this module generates NEW
shapes — random conjunctive predicates, group-key subsets, aggregate
bundles, and an optional orders join over lineitem — renders each AST twice
(a Spark DataFrame plan and DuckDB SQL), and strict-compares the results
with ``testing.compare_frames`` (dtype-strict, the driver-hash contract).

This is the parity discipline's adversary: every generated query runs the
engine-portable aggregation helpers (``functions.parity``) in compositions
nobody hand-wrote, so a latent drift class (like the r02 DuckDB-HUGEINT →
float64 windowed SUM) gets a combinatorial chance to surface locally before
any external gate sees it. The integer-SUM aggregate below deliberately
includes that exact class — its oracle rendering must CAST to BIGINT, and
removing the cast makes several seeds fail.

Seeds are fixed (no flakiness); each seed is an independent pytest case so
a failure names its shape. ~25 shapes × (one Spark job + one DuckDB query)
at sf0.001 keeps the module in tens of seconds.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pytest
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_asana_spark.functions import parity
from etl_asana_spark.registry import load_tables
from etl_asana_spark.testing import canonical_rows, compare_frames


@dataclass(frozen=True)
class Pred:
    col: Column
    sql: str


@dataclass(frozen=True)
class Key:
    name: str
    col: Column
    sql: str  # SELECT-list expression (aliased by name); also the GROUP BY expr


@dataclass(frozen=True)
class Agg:
    name: str
    col: Column
    sql: str


def _preds(rng: random.Random, joined: bool) -> list[Pred]:
    """0–3 random conjuncts. Constants are drawn from literals both parsers
    map to the identical double/date, so predicate truth is engine-equal."""
    pool: list[Pred] = []
    q = rng.randint(2, 49)
    op = rng.choice(["<", "<=", ">", ">="])
    pool.append(
        Pred(F.expr(f"l_quantity {op} {q}"), f"l_quantity {op} {q}")
    )
    lo = rng.randint(0, 6) / 100.0
    hi = lo + rng.randint(1, 4) / 100.0
    pool.append(
        Pred(
            F.col("l_discount").between(lo, hi),
            f"l_discount BETWEEN {lo} AND {hi}",
        )
    )
    d = f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-15 00:00:00"
    if rng.random() < 0.5:
        pool.append(
            Pred(
                F.col("l_shipdate") >= F.lit(d).cast("timestamp"),
                f"l_shipdate >= TIMESTAMP '{d}'",
            )
        )
    else:
        pool.append(
            Pred(
                F.col("l_shipdate") < F.lit(d).cast("timestamp"),
                f"l_shipdate < TIMESTAMP '{d}'",
            )
        )
    flags = rng.sample(["A", "N", "R"], rng.randint(1, 2))
    in_list = ", ".join(f"'{x}'" for x in flags)
    pool.append(
        Pred(F.col("l_returnflag").isin(flags), f"l_returnflag IN ({in_list})")
    )
    lns = rng.sample([1, 2, 3, 4, 5, 6, 7], rng.randint(1, 3))
    in_lns = ", ".join(str(n) for n in lns)
    pool.append(
        Pred(F.col("l_linenumber").isin(lns), f"l_linenumber IN ({in_lns})")
    )
    if joined:
        pri = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED"])
        pool.append(
            Pred(
                F.col("o_orderpriority") <= F.lit(pri),
                f"o_orderpriority <= '{pri}'",
            )
        )
    return rng.sample(pool, rng.randint(0, 3))


def _keys(rng: random.Random, joined: bool) -> list[Key]:
    pool = [
        Key("rf", F.col("l_returnflag"), "l_returnflag"),
        Key("ls", F.col("l_linestatus"), "l_linestatus"),
        Key("ln", F.col("l_linenumber"), "l_linenumber"),
        # int32 (Spark) vs int64 (DuckDB) — width must not matter to the
        # strict compare, only the int-vs-float KIND does.
        Key("yr", F.year("l_shipdate"), "year(l_shipdate)"),
    ]
    if joined:
        pool.append(Key("pri", F.col("o_orderpriority"), "o_orderpriority"))
    return rng.sample(pool, rng.randint(0, 2))


def _aggs(rng: random.Random) -> list[Agg]:
    pool = [
        Agg("n", F.count(F.lit(1)), "COUNT(*)"),
        # The r02 drift class on purpose: DuckDB SUM(int) is HUGEINT, which
        # pandas materializes as float64 — the oracle side MUST cast.
        Agg(
            "sum_supp",
            F.sum("l_suppkey"),
            "CAST(SUM(l_suppkey) AS BIGINT)",
        ),
        Agg("sum_qty", parity.dsum("l_quantity"), parity.sql_dsum("l_quantity")),
        Agg(
            "rev",
            parity.dsum("l_extendedprice * (1 - l_discount)"),
            parity.sql_dsum("l_extendedprice * (1 - l_discount)"),
        ),
        Agg(
            "avg_price",
            parity.davg("l_extendedprice"),
            parity.sql_davg("l_extendedprice"),
        ),
        Agg("min_disc", F.min("l_discount"), "MIN(l_discount)"),
        Agg("max_tax", F.max("l_tax"), "MAX(l_tax)"),
        Agg("last_ship", F.max("l_shipdate"), "MAX(l_shipdate)"),
        Agg(
            "n_parts",
            F.countDistinct("l_partkey"),
            "COUNT(DISTINCT l_partkey)",
        ),
    ]
    return rng.sample(pool, rng.randint(1, 4))


@dataclass(frozen=True)
class Shape:
    joined: bool
    preds: list[Pred]
    keys: list[Key]
    aggs: list[Agg]


def gen_shape(seed: int) -> Shape:
    rng = random.Random(seed)
    joined = rng.random() < 0.4
    return Shape(
        joined=joined,
        preds=_preds(rng, joined),
        keys=_keys(rng, joined),
        aggs=_aggs(rng),
    )


def run_spark(spark: SparkSession, sf_dir: str, s: Shape) -> DataFrame:
    t = load_tables(spark, sf_dir)
    df = t["lineitem"]
    if s.joined:
        df = df.join(
            t["orders"], df["l_orderkey"] == t["orders"]["o_orderkey"]
        )
    for p in s.preds:
        df = df.filter(p.col)
    aggs = [a.col.alias(a.name) for a in s.aggs]
    if s.keys:
        return df.groupBy(*[k.col.alias(k.name) for k in s.keys]).agg(*aggs)
    return df.agg(*aggs)


def to_sql(s: Shape) -> str:
    src = "lineitem"
    if s.joined:
        src = "lineitem JOIN orders ON l_orderkey = o_orderkey"
    where = (
        " WHERE " + " AND ".join(f"({p.sql})" for p in s.preds)
        if s.preds
        else ""
    )
    select = ", ".join(
        [f"{k.sql} AS {k.name}" for k in s.keys]
        + [f"{a.sql} AS {a.name}" for a in s.aggs]
    )
    group = (
        " GROUP BY " + ", ".join(k.sql for k in s.keys) if s.keys else ""
    )
    return f"SELECT {select} FROM {src}{where}{group}"


SEEDS = list(range(25))


@pytest.mark.parametrize("seed", SEEDS)
def test_random_shape_parity(spark, duck, sf_dir, seed):
    s = gen_shape(seed)
    got = run_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(to_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, f"seed={seed} sql={to_sql(s)} problems={problems[:3]}"


# ---------------------------------------------------------------------------
# Window-function shapes — the family where the only external red ever
# occurred (r02: DuckDB's windowed SUM over integers is HUGEINT → float64)
# ---------------------------------------------------------------------------

#: Deterministic total order inside every partition: (o_orderdate,
#: o_orderkey) is unique, so ROWS frames and navigation offsets are
#: engine-independent by construction.
_WIN_ORDER_SQL = "o_orderdate, o_orderkey"
_ROWS_CUM = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


@dataclass(frozen=True)
class WinShape:
    part: Key | None
    fns: list[Agg]  # name + Spark Column over the window + SQL OVER() text
    pred: Pred | None


def gen_window_shape(seed: int) -> WinShape:
    from pyspark.sql import Window

    rng = random.Random(seed)
    parts = [
        Key("pri", F.col("o_orderpriority"), "o_orderpriority"),
        Key("st", F.col("o_orderstatus"), "o_orderstatus"),
        Key("yr", F.year("o_orderdate"), "year(o_orderdate)"),
        None,  # single global partition — stresses the unpartitioned path
    ]
    part = rng.choice(parts)
    w = (
        Window.partitionBy(part.col)
        if part is not None
        else Window.partitionBy(F.lit(0))
    ).orderBy("o_orderdate", "o_orderkey")
    over = (
        f"PARTITION BY {part.sql} ORDER BY {_WIN_ORDER_SQL}"
        if part is not None
        else f"ORDER BY {_WIN_ORDER_SQL}"
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    units = F.floor(F.col("o_totalprice") * 1_000_000.0 + 0.5)
    sql_units = "CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)"
    pool = [
        Agg("rn", F.row_number().over(w), f"ROW_NUMBER() OVER ({over})"),
        # the r02 class: windowed SUM of integers MUST be cast on the
        # oracle side or it reaches pandas as float64
        Agg(
            "cum_key",
            F.sum("o_custkey").over(cum),
            f"CAST(SUM(o_custkey) OVER ({over} {_ROWS_CUM}) AS BIGINT)",
        ),
        # fixed-point cumulative revenue, exposed as exact BIGINT units
        Agg(
            "cum_rev_units",
            F.sum(units).over(cum),
            f"CAST(SUM({sql_units}) OVER ({over} {_ROWS_CUM}) AS BIGINT)",
        ),
        Agg(
            "prev_key",
            F.lag("o_orderkey").over(w),
            f"LAG(o_orderkey) OVER ({over})",
        ),
        Agg(
            "next_status",
            F.lead("o_orderstatus").over(w),
            f"LEAD(o_orderstatus) OVER ({over})",
        ),
        Agg(
            "run_max_price",
            F.max("o_totalprice").over(cum),
            f"MAX(o_totalprice) OVER ({over} {_ROWS_CUM})",
        ),
        Agg(
            "cum_n",
            F.count(F.lit(1)).over(cum),
            f"CAST(COUNT(*) OVER ({over} {_ROWS_CUM}) AS BIGINT)",
        ),
    ]
    fns = rng.sample(pool, rng.randint(1, 3))
    pred = None
    if rng.random() < 0.5:
        pri = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"])
        pred = Pred(
            F.col("o_orderpriority") <= F.lit(pri),
            f"o_orderpriority <= '{pri}'",
        )
    return WinShape(part=part, fns=fns, pred=pred)


def run_window_spark(spark, sf_dir: str, s: WinShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["orders"]
    if s.pred is not None:
        df = df.filter(s.pred.col)
    return df.select(
        "o_orderkey", *[f.col.alias(f.name) for f in s.fns]
    )


def window_sql(s: WinShape) -> str:
    where = f" WHERE ({s.pred.sql})" if s.pred is not None else ""
    select = ", ".join(
        ["o_orderkey"] + [f"{f.sql} AS {f.name}" for f in s.fns]
    )
    return f"SELECT {select} FROM orders{where}"


WIN_SEEDS = list(range(100, 115))


@pytest.mark.parametrize("seed", WIN_SEEDS)
def test_random_window_parity(spark, duck, sf_dir, seed):
    s = gen_window_shape(seed)
    got = run_window_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(window_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={window_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Composed scalar-expression shapes — the catalog's q_fn_* keys pin each
# function family alone; these compose random string/date/math chains over
# documents. Only engine-exact functions are in the pool (IEEE sqrt/floor/
# abs, string ops, day/month/year extraction): round(), log(), pow(), and
# dayofweek() are excluded on purpose — their cross-engine contracts differ
# (HALF_UP vs banker's, libm ulp drift, Sunday=1 vs Sunday=0).
# ---------------------------------------------------------------------------


def _scalar_pool(rng: random.Random) -> list[Agg]:
    k = rng.randint(2, 12)
    m = rng.randint(1, 5)
    needle = rng.choice(["the", "and", "data", "of"])
    pool = [
        Agg(
            "head",
            F.upper(F.substring("text", 1, k)),
            f"upper(substr(text, 1, {k}))",
        ),
        Agg(
            "tag",
            F.concat(F.col("source"), F.lit(":"), F.col("lang"),
                     F.lit(":"), F.col("doc_id").cast("string")),
            "source || ':' || lang || ':' || CAST(doc_id AS VARCHAR)",
        ),
        Agg(
            "n_head_chars",
            F.length(F.trim(F.substring("text", 1, 40))),
            "CAST(length(trim(substr(text, 1, 40))) AS BIGINT)",
        ),
        Agg(
            "replaced",
            F.replace(F.substring("text", 1, 30), F.lit(needle), F.lit("_")),
            f"replace(substr(text, 1, 30), '{needle}', '_')",
        ),
        Agg(
            "rev_src",
            F.reverse(F.lower(F.col("source"))),
            "reverse(lower(source))",
        ),
        Agg(
            "has_needle",
            F.substring("text", 1, 200).contains(needle),
            f"contains(substr(text, 1, 200), '{needle}')",
        ),
        Agg(
            "root_chars",
            F.sqrt(F.col("n_chars").cast("double") + F.lit(float(m))),
            f"sqrt(CAST(n_chars AS DOUBLE) + {float(m)})",
        ),
        Agg(
            "chars_bucket",
            F.floor(F.col("n_chars") / F.lit(float(100 * m))).cast("long"),
            f"CAST(floor(n_chars / {float(100 * m)}) AS BIGINT)",
        ),
        Agg(
            "abs_delta",
            F.abs(F.col("n_chars") - F.lit(500)),
            "CAST(abs(n_chars - 500) AS BIGINT)",
        ),
        Agg(
            "flagged",
            F.when(F.col("n_chars") > 100 * m, F.lit("long"))
            .when(F.col("lang") == "en", F.lit("short-en"))
            .otherwise(F.lit("other")),
            f"CASE WHEN n_chars > {100 * m} THEN 'long' "
            "WHEN lang = 'en' THEN 'short-en' ELSE 'other' END",
        ),
    ]
    return pool


@dataclass(frozen=True)
class ScalarShape:
    exprs: list[Agg]
    pred: Pred | None


def gen_scalar_shape(seed: int) -> ScalarShape:
    rng = random.Random(seed)
    exprs = rng.sample(_scalar_pool(rng), rng.randint(2, 4))
    pred = None
    if rng.random() < 0.5:
        langs = rng.sample(["en", "de", "fr", "es", "zh"], rng.randint(1, 3))
        in_langs = ", ".join(f"'{x}'" for x in langs)
        pred = Pred(F.col("lang").isin(langs), f"lang IN ({in_langs})")
    return ScalarShape(exprs=exprs, pred=pred)


def run_scalar_spark(spark, sf_dir: str, s: ScalarShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["documents"]
    if s.pred is not None:
        df = df.filter(s.pred.col)
    return df.select("doc_id", *[e.col.alias(e.name) for e in s.exprs])


def scalar_sql(s: ScalarShape) -> str:
    where = f" WHERE ({s.pred.sql})" if s.pred is not None else ""
    select = ", ".join(
        ["doc_id"] + [f"{e.sql} AS {e.name}" for e in s.exprs]
    )
    return f"SELECT {select} FROM documents{where}"


SCALAR_SEEDS = list(range(200, 215))


@pytest.mark.parametrize("seed", SCALAR_SEEDS)
def test_random_scalar_parity(spark, duck, sf_dir, seed):
    s = gen_scalar_shape(seed)
    got = run_scalar_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(scalar_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={scalar_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Join-kind shapes — inner/left/semi/anti between customer and orders. The
# semantics fuzzed here are the ones equi-join rewrites get wrong: a
# right-side predicate must behave as an ON-clause condition under LEFT
# (rows keep surviving with NULL order columns), COUNT(col) vs COUNT(*)
# must disagree exactly on the unmatched rows, and a NULLIF'd group key
# must put the NULL group through both engines' grouping identically.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class JoinShape:
    kind: str  # inner | left | semi | anti
    left_pred: Pred | None
    right_pred: Pred | None
    null_key_group: bool


def gen_join_shape(seed: int) -> JoinShape:
    rng = random.Random(seed)
    kind = rng.choice(["inner", "left", "semi", "anti"])
    left_pred = None
    if rng.random() < 0.6:
        if rng.random() < 0.5:
            bal = rng.randint(-500, 5000)
            left_pred = Pred(
                F.col("c_acctbal") > float(bal), f"c_acctbal > {float(bal)}"
            )
        else:
            segs = rng.sample(
                ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
                 "FURNITURE"],
                rng.randint(1, 3),
            )
            in_segs = ", ".join(f"'{s}'" for s in segs)
            left_pred = Pred(
                F.col("c_mktsegment").isin(segs),
                f"c_mktsegment IN ({in_segs})",
            )
    right_pred = None
    if rng.random() < 0.6:
        if rng.random() < 0.5:
            st = rng.choice(["F", "O", "P"])
            right_pred = Pred(
                F.col("o_orderstatus") == st, f"o_orderstatus = '{st}'"
            )
        else:
            p = rng.randint(50, 250) * 1000
            right_pred = Pred(
                F.col("o_totalprice") < float(p), f"o_totalprice < {float(p)}"
            )
    return JoinShape(
        kind=kind,
        left_pred=left_pred,
        right_pred=right_pred,
        null_key_group=rng.random() < 0.4,
    )


def _join_group_key(s: JoinShape) -> Key:
    if s.null_key_group:
        return Key(
            "seg",
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
            "nullif(c_mktsegment, 'BUILDING')",
        )
    return Key("seg", F.col("c_mktsegment"), "c_mktsegment")


def run_join_spark(spark: SparkSession, sf_dir: str, s: JoinShape) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = t["customer"]
    if s.left_pred is not None:
        cust = cust.filter(s.left_pred.col)
    orders = t["orders"]
    if s.right_pred is not None:
        # Pre-join filter on the preserved-NULL side ≡ the ON-clause
        # predicate — the LEFT-join case where WHERE placement changes
        # the answer.
        orders = orders.filter(s.right_pred.col)
    kind = {"inner": "inner", "left": "left",
            "semi": "left_semi", "anti": "left_anti"}[s.kind]
    joined = cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], kind
    )
    key = _join_group_key(s)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        parity.dsum("c_acctbal").alias("sum_bal"),
    ]
    if s.kind in ("inner", "left"):
        aggs += [
            F.count("o_orderkey").alias("n_orders"),  # NULL-skipping count
            F.max("o_orderdate").alias("last_odate"),
        ]
    return joined.groupBy(key.col.alias(key.name)).agg(*aggs)


def join_sql(s: JoinShape) -> str:
    key = _join_group_key(s)
    lw = f"({s.left_pred.sql})" if s.left_pred is not None else "TRUE"
    rp = f"({s.right_pred.sql})" if s.right_pred is not None else "TRUE"
    aggs = [
        "CAST(COUNT(*) AS BIGINT) AS n",
        f"{parity.sql_dsum('c_acctbal')} AS sum_bal",
    ]
    if s.kind in ("inner", "left"):
        aggs += [
            "CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders",
            "MAX(o_orderdate) AS last_odate",
        ]
        joiner = "JOIN" if s.kind == "inner" else "LEFT JOIN"
        src = (
            f"customer {joiner} orders "
            f"ON c_custkey = o_custkey AND {rp}"
        )
        where = f" WHERE {lw}"
    else:
        exists = (
            "EXISTS (SELECT 1 FROM orders "
            f"WHERE o_custkey = c_custkey AND {rp})"
        )
        if s.kind == "anti":
            exists = "NOT " + exists
        src = "customer"
        where = f" WHERE {lw} AND {exists}"
    return (
        f"SELECT {key.sql} AS {key.name}, {', '.join(aggs)} "
        f"FROM {src}{where} GROUP BY {key.sql}"
    )


JOIN_SEEDS = list(range(300, 318))


@pytest.mark.parametrize("seed", JOIN_SEEDS)
def test_random_join_parity(spark, duck, sf_dir, seed):
    s = gen_join_shape(seed)
    got = run_join_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(join_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={join_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Set-operation shapes — two predicated projections of orders composed with
# UNION ALL / UNION / INTERSECT [ALL] / EXCEPT [ALL]. The ALL-vs-DISTINCT
# split is the hazard: DataFrame union() is UNION ALL (SQL UNION dedups),
# intersect()/exceptAll() etc. each pin one side of it.
# ---------------------------------------------------------------------------

# Column construction needs a live JVM, so the Spark side is a thunk.
_SETOP_PROJS = {
    "status_pri": (
        lambda: ["o_orderstatus", "o_orderpriority"],
        "o_orderstatus, o_orderpriority",
    ),
    "pri_year": (
        lambda: [F.col("o_orderpriority"), F.year("o_orderdate").alias("yr")],
        "o_orderpriority, year(o_orderdate) AS yr",
    ),
}


@dataclass(frozen=True)
class SetShape:
    proj: str
    op: str  # union_all | union | intersect | intersect_all | except_ | except_all
    pred_a: Pred
    pred_b: Pred


def _setop_pred(rng: random.Random) -> Pred:
    choice = rng.random()
    if choice < 0.4:
        st = rng.choice(["F", "O", "P"])
        return Pred(F.col("o_orderstatus") == st, f"o_orderstatus = '{st}'")
    if choice < 0.7:
        p = rng.randint(50, 250) * 1000
        return Pred(F.col("o_totalprice") < float(p), f"o_totalprice < {float(p)}")
    y = rng.randint(1993, 1997)
    return Pred(
        F.year("o_orderdate") >= y, f"year(o_orderdate) >= {y}"
    )


def gen_set_shape(seed: int) -> SetShape:
    rng = random.Random(seed)
    return SetShape(
        proj=rng.choice(sorted(_SETOP_PROJS)),
        op=rng.choice(
            ["union_all", "union", "intersect", "intersect_all",
             "except_", "except_all"]
        ),
        pred_a=_setop_pred(rng),
        pred_b=_setop_pred(rng),
    )


def run_set_spark(spark: SparkSession, sf_dir: str, s: SetShape) -> DataFrame:
    orders = load_tables(spark, sf_dir)["orders"]
    cols = _SETOP_PROJS[s.proj][0]()
    a = orders.filter(s.pred_a.col).select(*cols)
    b = orders.filter(s.pred_b.col).select(*cols)
    if s.op == "union_all":
        return a.union(b)
    if s.op == "union":
        return a.union(b).distinct()
    if s.op == "intersect":
        return a.intersect(b)
    if s.op == "intersect_all":
        return a.intersectAll(b)
    if s.op == "except_":
        return a.subtract(b)  # EXCEPT DISTINCT (exceptAll().distinct() is
        # NOT the same: a row present on both sides survives the multiset
        # difference whenever the left multiplicity is higher)
    return a.exceptAll(b)


def set_sql(s: SetShape) -> str:
    proj = _SETOP_PROJS[s.proj][1]
    op = {
        "union_all": "UNION ALL",
        "union": "UNION",
        "intersect": "INTERSECT",
        "intersect_all": "INTERSECT ALL",
        "except_": "EXCEPT",
        "except_all": "EXCEPT ALL",
    }[s.op]
    return (
        f"SELECT {proj} FROM orders WHERE ({s.pred_a.sql}) "
        f"{op} "
        f"SELECT {proj} FROM orders WHERE ({s.pred_b.sql})"
    )


SET_SEEDS = list(range(400, 414))


@pytest.mark.parametrize("seed", SET_SEEDS)
def test_random_setop_parity(spark, duck, sf_dir, seed):
    s = gen_set_shape(seed)
    got = run_set_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(set_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={set_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Multi-dimensional aggregation shapes — ROLLUP / CUBE / GROUPING SETS over
# random key subsets and aggregate bundles, always carrying GROUPING_ID. The
# fuzzed hazards: subtotal NULL markers coexisting with DATA NULLs in a key
# (a NULLIF'd key is in the pool — gid is what keeps the rows apart), the
# gid bit-order contract (leftmost key = MSB in both engines, probed and
# pinned here), and integer SUMs inside Expand (the HUGEINT cast class again
# via the shared aggregate pool).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class MultiDimShape:
    op: str  # rollup | cube | gsets
    keys: list[Key]
    sets: list[tuple[int, ...]] | None  # index subsets for gsets
    aggs: list[Agg]


def _mdim_keys(rng: random.Random) -> list[Key]:
    pool = [
        Key("rf", F.col("l_returnflag"), "l_returnflag"),
        Key("ls", F.col("l_linestatus"), "l_linestatus"),
        Key("ln", F.col("l_linenumber"), "l_linenumber"),
        # Data NULLs in a grouping key: subtotal rows and the NULL-value
        # group must stay distinct (by gid), identically in both engines.
        Key(
            "nrf",
            F.nullif(F.col("l_returnflag"), F.lit("A")),
            "nullif(l_returnflag, 'A')",
        ),
    ]
    return rng.sample(pool, rng.randint(2, 3))


def gen_mdim_shape(seed: int) -> MultiDimShape:
    rng = random.Random(seed)
    op = rng.choice(["rollup", "cube", "gsets"])
    keys = _mdim_keys(rng)
    sets = None
    if op == "gsets":
        universe: list[tuple[int, ...]] = [()]
        for i in range(len(keys)):
            universe.append((i,))
        universe.append(tuple(range(len(keys))))
        sets = rng.sample(universe, rng.randint(2, 3))
        # Every key must belong to at least one set — GROUPING() over a
        # never-grouped column is a binder error (DuckDB enforces it).
        covered = sorted({i for t in sets for i in t})
        if not covered:
            covered = [0]
            sets = [(0,), ()]
        remap = {old: new for new, old in enumerate(covered)}
        keys = [keys[i] for i in covered]
        sets = [tuple(remap[i] for i in t if i in remap) for t in sets]
    return MultiDimShape(op=op, keys=keys, sets=sets, aggs=_aggs(rng))


def run_mdim_spark(spark: SparkSession, sf_dir: str, s: MultiDimShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["lineitem"]
    # Pre-project the key expressions into named columns and group by the
    # plain names: groupingSets() matches set members to grouping columns
    # by expression, and a re-used aliased Column object silently becomes a
    # SEPARATE grouping expression (observed: gid over 2 keys reached 13).
    for k in s.keys:
        df = df.withColumn(k.name, k.col)
    names = [k.name for k in s.keys]
    if s.op == "rollup":
        grouped = df.rollup(*names)
    elif s.op == "cube":
        grouped = df.cube(*names)
    else:
        grouped = df.groupingSets(
            [[names[i] for i in idxs] for idxs in s.sets], *names
        )
    return grouped.agg(
        F.grouping_id().alias("gid"), *[a.col.alias(a.name) for a in s.aggs]
    )


def mdim_sql(s: MultiDimShape) -> str:
    keys_sql = ", ".join(k.sql for k in s.keys)
    if s.op == "rollup":
        group = f"ROLLUP({keys_sql})"
    elif s.op == "cube":
        group = f"CUBE({keys_sql})"
    else:
        rendered = [
            "(" + ", ".join(s.keys[i].sql for i in idxs) + ")"
            for idxs in s.sets
        ]
        group = f"GROUPING SETS ({', '.join(rendered)})"
    select = ", ".join(
        [f"{k.sql} AS {k.name}" for k in s.keys]
        + [f"CAST(GROUPING({keys_sql}) AS BIGINT) AS gid"]
        + [f"{a.sql} AS {a.name}" for a in s.aggs]
    )
    return f"SELECT {select} FROM lineitem GROUP BY {group}"


MDIM_SEEDS = list(range(600, 614))


@pytest.mark.parametrize("seed", MDIM_SEEDS)
def test_random_mdim_parity(spark, duck, sf_dir, seed):
    s = gen_mdim_shape(seed)
    got = run_mdim_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(mdim_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={mdim_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# As-of join shapes — the engine's composed ASOF (equi-join + range filter +
# argmax, operators/joins.py) against DuckDB's NATIVE ASOF JOIN, which is an
# independent implementation of the same semantics: per probe row the nearest
# build time at-or-before (backward) / at-or-after (forward), inner, per key.
# Randomized over direction, probe/build slices, and payload attachment; the
# cogroup merge_asof scale path is cross-checked on the backward shapes.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class AsofShape:
    direction: str  # backward | forward
    probe_types: list[str]
    build_types: list[str]
    payload: bool


_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def gen_asof_shape(seed: int) -> AsofShape:
    rng = random.Random(seed)
    return AsofShape(
        direction=rng.choice(["backward", "forward"]),
        probe_types=sorted(rng.sample(_EVENT_TYPES, rng.randint(1, 2))),
        build_types=sorted(rng.sample(_EVENT_TYPES, rng.randint(1, 3))),
        payload=rng.random() < 0.5,
    )


def _asof_sides(spark, sf_dir: str, s: AsofShape):
    ev = load_tables(spark, sf_dir)["events"]
    probe = ev.filter(F.col("event_type").isin(s.probe_types)).select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    # Build side made unique per (key, time) so payload attachment is
    # unambiguous in every implementation under test.
    build = (
        ev.filter(F.col("event_type").isin(s.build_types))
        .groupBy("user_id", F.col("ts").alias("b_ts"))
        .agg(F.max("value").alias("val"))
    )
    return probe, build


def run_asof_spark(spark, sf_dir: str, s: AsofShape) -> DataFrame:
    from etl_asana_spark.operators.joins import asof_join

    probe, build = _asof_sides(spark, sf_dir, s)
    return asof_join(
        probe,
        build,
        on="user_id",
        probe_time="p_ts",
        build_time="b_ts",
        direction=s.direction,
        payload_cols=("val",) if s.payload else (),
    )


def asof_sql(s: AsofShape) -> str:
    in_p = ", ".join(f"'{x}'" for x in s.probe_types)
    in_b = ", ".join(f"'{x}'" for x in s.build_types)
    op = ">=" if s.direction == "backward" else "<="
    val = ", b.val" if s.payload else ""
    return f"""
    WITH probe AS (
        SELECT event_id, user_id, ts AS p_ts FROM events
        WHERE event_type IN ({in_p})
    ),
    build AS (
        SELECT user_id, ts AS b_ts, MAX(value) AS val FROM events
        WHERE event_type IN ({in_b}) GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.p_ts, b.b_ts{val}
    FROM probe p ASOF JOIN build b
      ON p.user_id = b.user_id AND p.p_ts {op} b.b_ts
    """


ASOF_SEEDS = list(range(500, 514))


@pytest.mark.parametrize("seed", ASOF_SEEDS)
def test_random_asof_parity(spark, duck, sf_dir, seed):
    s = gen_asof_shape(seed)
    got = run_asof_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(asof_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} shape={s} problems={problems[:3]}"
    )
    if s.direction == "backward" and not s.payload:
        # The cogroup merge_asof scale path must agree with the native
        # ASOF on the same sides.
        from etl_asana_spark.operators.joins import asof_join_pandas

        probe, build = _asof_sides(spark, sf_dir, s)
        alt = asof_join_pandas(
            probe, build.select("user_id", "b_ts"),
            on="user_id", probe_time="p_ts", build_time="b_ts",
        ).toPandas()
        problems = compare_frames(alt, want)
        assert not problems, (
            f"seed={seed} pandas-path shape={s} problems={problems[:3]}"
        )


# ---------------------------------------------------------------------------
# Array higher-order-function shapes — random transform/filter/aggregate
# chains over the 64-d embedding vectors, DataFrame HOFs vs DuckDB list_*.
# The HOF path is what keeps 100 TB embedding math JVM-side (no UDF), so its
# cross-engine contract gets fuzzed like the scalar one: float32 elements are
# cast to DOUBLE on both sides, folds run left-to-right in array order on
# both sides, and every float-valued output goes through the fixed-point
# floor(x·1e6+0.5) BIGINT boundary the parity discipline uses everywhere.
# ---------------------------------------------------------------------------


def _vec_pool(rng: random.Random) -> list[Agg]:
    k = rng.randint(2, 16)
    thr = rng.randint(-20, 20) / 100.0
    fp = "CAST(floor({} * 1000000.0 + 0.5) AS BIGINT)"
    x2d = "CAST(x AS DOUBLE)"

    def units(col: Column) -> Column:
        return F.floor(col * 1_000_000.0 + F.lit(0.5)).cast("long")

    e_dbl = F.transform("embedding", lambda x: x.cast("double"))
    pool = [
        Agg("dim", F.size("embedding").cast("long"), "CAST(len(embedding) AS BIGINT)"),
        Agg(
            "sumsq_units",
            units(
                F.aggregate(
                    e_dbl, F.lit(0.0), lambda acc, x: acc + x * x
                )
            ),
            fp.format(
                f"list_sum(list_transform(embedding, x -> {x2d} * {x2d}))"
            ),
        ),
        Agg(
            "max_units",
            units(F.array_max(e_dbl)),
            fp.format(f"list_max(list_transform(embedding, x -> {x2d}))"),
        ),
        Agg(
            "min_units",
            units(F.array_min(e_dbl)),
            fp.format(f"list_min(list_transform(embedding, x -> {x2d}))"),
        ),
        Agg(
            "n_above",
            F.size(F.filter(e_dbl, lambda x: x > thr)).cast("long"),
            f"CAST(len(list_filter(embedding, x -> {x2d} > {thr})) AS BIGINT)",
        ),
        Agg(
            "head_sum_units",
            units(
                F.aggregate(
                    F.slice(e_dbl, 1, k), F.lit(0.0), lambda acc, x: acc + x
                )
            ),
            fp.format(
                "list_sum(list_transform("
                f"list_slice(embedding, 1, {k}), x -> {x2d}))"
            ),
        ),
        Agg(
            "last_unit",
            units(F.element_at(e_dbl, -1)),
            fp.format("CAST(embedding[-1] AS DOUBLE)"),
        ),
    ]
    return pool


@dataclass(frozen=True)
class VecShape:
    exprs: list[Agg]
    mod: int  # vec_id % mod = 0 predicate keeps the row set seed-dependent


def gen_vec_shape(seed: int) -> VecShape:
    rng = random.Random(seed)
    return VecShape(
        exprs=rng.sample(_vec_pool(rng), rng.randint(2, 4)),
        mod=rng.choice([1, 2, 3, 5]),
    )


def run_vec_spark(spark, sf_dir: str, s: VecShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["embeddings"]
    if s.mod > 1:
        df = df.filter(F.col("vec_id") % s.mod == 0)
    return df.select("vec_id", *[e.col.alias(e.name) for e in s.exprs])


def vec_sql(s: VecShape) -> str:
    where = f" WHERE vec_id % {s.mod} = 0" if s.mod > 1 else ""
    select = ", ".join(
        ["vec_id"] + [f"{e.sql} AS {e.name}" for e in s.exprs]
    )
    return f"SELECT {select} FROM embeddings{where}"


VEC_SEEDS = list(range(700, 712))


@pytest.mark.parametrize("seed", VEC_SEEDS)
def test_random_vector_parity(spark, duck, sf_dir, seed):
    s = gen_vec_shape(seed)
    got = run_vec_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(vec_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={vec_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Date/interval arithmetic shapes — random chains over o_orderdate from the
# engine-exact subset both engines define identically: date_trunc on
# day/week/month/quarter/year (both ISO-Monday weeks), day offsets,
# whole-day datediff, last_day, calendar extraction. Deliberately excluded:
# months_between (fractional-month contract differs), dayofweek numbering,
# and sub-second truncation of the nanos events feed.
# ---------------------------------------------------------------------------


def _date_pool(rng: random.Random) -> list[Agg]:
    unit = rng.choice(["month", "quarter", "year", "week", "day"])
    k = rng.randint(1, 400)
    anchor = f"199{rng.randint(2, 8)}-0{rng.randint(1, 9)}-01"
    pool = [
        Agg(
            "bucket",
            F.date_trunc(unit, F.col("o_orderdate")),
            f"date_trunc('{unit}', o_orderdate)",
        ),
        # DATE-typed outputs cross the comparison boundary as strings
        # (catalog convention): Spark DATE → pandas date objects, DuckDB
        # DATE → pandas Timestamps — same value, different kind.
        Agg(
            "plus_k",
            F.date_add(F.col("o_orderdate").cast("date"), k).cast("string"),
            f"CAST(CAST(o_orderdate AS DATE) + {k} AS VARCHAR)",
        ),
        Agg(
            "days_since",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit(anchor).cast("date"),
            ).cast("long"),
            f"CAST(datediff('day', DATE '{anchor}', "
            "CAST(o_orderdate AS DATE)) AS BIGINT)",
        ),
        Agg(
            "eom",
            F.last_day(F.col("o_orderdate").cast("date")).cast("string"),
            "CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR)",
        ),
        Agg(
            "ym",
            F.year("o_orderdate") * 100 + F.month("o_orderdate"),
            "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)",
        ),
        Agg(
            "dom",
            F.dayofmonth("o_orderdate").cast("long"),
            "CAST(day(o_orderdate) AS BIGINT)",
        ),
        Agg(
            "q",
            F.quarter("o_orderdate").cast("long"),
            "CAST(quarter(o_orderdate) AS BIGINT)",
        ),
    ]
    return pool


@dataclass(frozen=True)
class DateShape:
    exprs: list[Agg]
    pred: Pred | None


def gen_date_shape(seed: int) -> DateShape:
    rng = random.Random(seed)
    exprs = rng.sample(_date_pool(rng), rng.randint(2, 4))
    pred = None
    if rng.random() < 0.5:
        y = rng.randint(1993, 1997)
        pred = Pred(F.year("o_orderdate") <= y, f"year(o_orderdate) <= {y}")
    return DateShape(exprs=exprs, pred=pred)


def run_date_spark(spark, sf_dir: str, s: DateShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["orders"]
    if s.pred is not None:
        df = df.filter(s.pred.col)
    return df.select("o_orderkey", *[e.col.alias(e.name) for e in s.exprs])


def date_sql(s: DateShape) -> str:
    where = f" WHERE ({s.pred.sql})" if s.pred is not None else ""
    select = ", ".join(
        ["o_orderkey"] + [f"{e.sql} AS {e.name}" for e in s.exprs]
    )
    return f"SELECT {select} FROM orders{where}"


DATE_SEEDS = list(range(900, 912))


@pytest.mark.parametrize("seed", DATE_SEEDS)
def test_random_date_parity(spark, duck, sf_dir, seed):
    s = gen_date_shape(seed)
    got = run_date_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(date_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={date_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# NULL-semantics shapes — chains over a NULLIF-injected column: NULL-skipping
# greatest/least (both engines skip, probed), coalesce fallbacks, null-safe
# equality (eqNullSafe ↔ IS NOT DISTINCT FROM), NULL propagation through
# arithmetic, and three-valued-logic predicates. The NULLs are data-dependent
# (nullif on a value the column actually takes), so every seed exercises the
# NULL and non-NULL paths side by side in the same frame.
# ---------------------------------------------------------------------------


def _null_pool(rng: random.Random) -> list[Agg]:
    k = rng.randint(1, 50)
    m = rng.randint(2, 9)
    nq = F.nullif(F.col("l_quantity"), F.lit(float(k)))
    nq_sql = f"nullif(l_quantity, {float(k)})"
    pool = [
        Agg(
            "best",
            F.greatest(nq, F.col("l_discount") * 100.0, F.lit(float(m))),
            f"greatest({nq_sql}, l_discount * 100.0, {float(m)})",
        ),
        Agg(
            "worst",
            F.least(nq, F.col("l_tax") * 100.0),
            f"least({nq_sql}, l_tax * 100.0)",
        ),
        Agg(
            "filled",
            F.coalesce(nq, F.col("l_linenumber").cast("double")),
            f"coalesce({nq_sql}, CAST(l_linenumber AS DOUBLE))",
        ),
        Agg(
            "same_qty",
            nq.eqNullSafe(F.col("l_quantity")),
            f"{nq_sql} IS NOT DISTINCT FROM l_quantity",
        ),
        Agg(
            "poisoned",
            (nq + F.lit(1.0)) * F.lit(float(m)),
            f"({nq_sql} + 1.0) * {float(m)}",
        ),
        Agg(
            "was_null",
            nq.isNull(),
            f"{nq_sql} IS NULL",
        ),
        Agg(
            "threeval",
            F.when(nq > 25.0, F.lit("hi"))
            .when(nq <= 25.0, F.lit("lo"))
            .otherwise(F.lit("unknown")),  # NULL comparisons hit neither branch
            f"CASE WHEN {nq_sql} > 25.0 THEN 'hi' "
            f"WHEN {nq_sql} <= 25.0 THEN 'lo' ELSE 'unknown' END",
        ),
    ]
    return pool


@dataclass(frozen=True)
class NullShape:
    exprs: list[Agg]
    pred: Pred | None


def gen_null_shape(seed: int) -> NullShape:
    rng = random.Random(seed)
    exprs = rng.sample(_null_pool(rng), rng.randint(2, 4))
    pred = None
    if rng.random() < 0.4:
        ln = rng.randint(1, 4)
        pred = Pred(F.col("l_linenumber") <= ln, f"l_linenumber <= {ln}")
    return NullShape(exprs=exprs, pred=pred)


def run_null_spark(spark, sf_dir: str, s: NullShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["lineitem"]
    if s.pred is not None:
        df = df.filter(s.pred.col)
    return df.select(
        "l_orderkey", "l_linenumber",
        *[e.col.alias(e.name) for e in s.exprs],
    )


def null_sql(s: NullShape) -> str:
    where = f" WHERE ({s.pred.sql})" if s.pred is not None else ""
    select = ", ".join(
        ["l_orderkey", "l_linenumber"]
        + [f"{e.sql} AS {e.name}" for e in s.exprs]
    )
    return f"SELECT {select} FROM lineitem{where}"


NULL_SEEDS = list(range(1000, 1012))


@pytest.mark.parametrize("seed", NULL_SEEDS)
def test_random_null_semantics_parity(spark, duck, sf_dir, seed):
    s = gen_null_shape(seed)
    got = run_null_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(null_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={null_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Regex shapes — extract/match/replace/count chains over documents.text from
# a CURATED dialect-safe pattern pool (char classes, quantifiers, anchors,
# word boundaries, alternation groups behave identically in Java regex and
# DuckDB's RE2; lookaround/backrefs/possessive quantifiers are excluded —
# RE2 rejects them outright). Spark regexp_replace is global by default ↔
# DuckDB's 'g' flag; no-match regexp_extract is '' on both (probed).
# ---------------------------------------------------------------------------

_SAFE_PATTERNS = [
    "[0-9]+",
    "[aeiou]{2,}",
    "\\b[A-Za-z]{6,}\\b",
    "(the|and|of)",
    "[A-Z][a-z]+",
]


def _regex_pool(rng: random.Random) -> list[Agg]:
    p = rng.choice(_SAFE_PATTERNS)
    w = rng.randint(40, 120)
    pool = [
        Agg(
            "first_hit",
            F.regexp_extract("text", p, 0),
            f"regexp_extract(text, '{p}')",
        ),
        Agg(
            "hits",
            F.regexp_count(F.substring("text", 1, w), F.lit(p)).cast("long"),
            f"CAST(len(regexp_extract_all(substr(text, 1, {w}), '{p}')) AS BIGINT)",
        ),
        Agg(
            "gutted",
            F.regexp_replace(F.substring("text", 1, w), p, "_"),
            f"regexp_replace(substr(text, 1, {w}), '{p}', '_', 'g')",
        ),
        Agg(
            "matches",
            F.col("text").rlike(p),
            f"regexp_matches(text, '{p}')",
        ),
        Agg(
            "first_word",
            F.regexp_extract("text", "^([A-Za-z]+)", 1),
            "regexp_extract(text, '^([A-Za-z]+)', 1)",
        ),
    ]
    return pool


@dataclass(frozen=True)
class RegexShape:
    exprs: list[Agg]
    pred: Pred | None


def gen_regex_shape(seed: int) -> RegexShape:
    rng = random.Random(seed)
    exprs = rng.sample(_regex_pool(rng), rng.randint(2, 4))
    pred = None
    if rng.random() < 0.4:
        langs = rng.sample(["en", "de", "fr", "es", "zh"], rng.randint(1, 2))
        in_langs = ", ".join(f"'{x}'" for x in langs)
        pred = Pred(F.col("lang").isin(langs), f"lang IN ({in_langs})")
    return RegexShape(exprs=exprs, pred=pred)


def run_regex_spark(spark, sf_dir: str, s: RegexShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["documents"]
    if s.pred is not None:
        df = df.filter(s.pred.col)
    return df.select("doc_id", *[e.col.alias(e.name) for e in s.exprs])


def regex_sql(s: RegexShape) -> str:
    where = f" WHERE ({s.pred.sql})" if s.pred is not None else ""
    select = ", ".join(
        ["doc_id"] + [f"{e.sql} AS {e.name}" for e in s.exprs]
    )
    return f"SELECT {select} FROM documents{where}"


REGEX_SEEDS = list(range(1100, 1112))


@pytest.mark.parametrize("seed", REGEX_SEEDS)
def test_random_regex_parity(spark, duck, sf_dir, seed):
    s = gen_regex_shape(seed)
    got = run_regex_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(regex_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={regex_sql(s)} problems={problems[:3]}"
    )


# ---------------------------------------------------------------------------
# String-function chains (tier 11) — upper/lower/trim/substr/lpad/replace/
# translate/reverse/repeat/left/right/instr/levenshtein/md5 compositions
# over documents.text, from the dialect-safe intersection (identical
# semantics in Spark and DuckDB for non-null inputs and positive positions).
# Deliberately excluded: initcap (absent in DuckDB), concat (DuckDB ignores
# NULLs where Spark propagates), split_part out-of-range, overlay. Motivated
# by the r04 outcome-audit find: a hand-inlined string formula (punct_ratio)
# drifted from its library twin — string expressions deserve the same
# combinatorial adversary the numeric/date/regex families already have.
# ---------------------------------------------------------------------------

_STR_WORDS = ["spark", "line", "value", "batch", "query"]


def _str_pool(rng: random.Random) -> list[Agg]:
    w = rng.randint(8, 60)
    k = rng.randint(2, 9)
    word = rng.choice(_STR_WORDS)
    fill = rng.choice(["_", ".", "x"])
    head = F.substring("text", 1, w)
    head_sql = f"substr(text, 1, {w})"
    return [
        Agg(
            "shout_tail",
            F.reverse(F.upper(head)),
            f"reverse(upper({head_sql}))",
        ),
        Agg(
            "padded",
            F.lpad(F.rtrim(head), w + k, fill),
            f"lpad(rtrim({head_sql}), {w + k}, '{fill}')",
        ),
        Agg(
            "swapped",
            F.replace(head, F.lit(word), F.lit(word.upper())),
            f"replace({head_sql}, '{word}', '{word.upper()}')",
        ),
        Agg(
            "vowelless",
            F.translate(head, "aeiou", "     "),
            f"translate({head_sql}, 'aeiou', '     ')",
        ),
        Agg(
            "find_word",
            F.instr(F.col("text"), word).cast("long"),
            f"CAST(instr(text, '{word}') AS BIGINT)",
        ),
        Agg(
            "edit_dist",
            F.levenshtein(F.left(F.col("text"), F.lit(k + 3)), F.lit(word)).cast("long"),
            f"CAST(levenshtein(left(text, {k + 3}), '{word}') AS BIGINT)",
        ),
        Agg(
            "stutter",
            F.repeat(F.right(F.col("text"), F.lit(k)), 2),
            f"repeat(right(text, {k}), 2)",
        ),
        Agg(
            "digest",
            F.md5(F.ltrim(head)),
            f"md5(ltrim({head_sql}))",
        ),
    ]


@dataclass(frozen=True)
class StrShape:
    exprs: list[Agg]
    pred: Pred | None


def gen_str_shape(seed: int) -> StrShape:
    rng = random.Random(seed)
    exprs = rng.sample(_str_pool(rng), rng.randint(2, 4))
    pred = None
    if rng.random() < 0.4:
        n = rng.randint(60, 300)
        pred = Pred(F.length("text") >= n, f"length(text) >= {n}")
    return StrShape(exprs=exprs, pred=pred)


def run_str_spark(spark, sf_dir: str, s: StrShape) -> DataFrame:
    df = load_tables(spark, sf_dir)["documents"]
    if s.pred is not None:
        df = df.filter(s.pred.col)
    return df.select("doc_id", *[e.col.alias(e.name) for e in s.exprs])


def str_sql(s: StrShape) -> str:
    where = f" WHERE ({s.pred.sql})" if s.pred is not None else ""
    select = ", ".join(["doc_id"] + [f"{e.sql} AS {e.name}" for e in s.exprs])
    return f"SELECT {select} FROM documents{where}"


STR_SEEDS = list(range(1200, 1214))


@pytest.mark.parametrize("seed", STR_SEEDS)
def test_random_string_parity(spark, duck, sf_dir, seed):
    s = gen_str_shape(seed)
    got = run_str_spark(spark, sf_dir, s).toPandas()
    want = duck.execute(str_sql(s)).fetchdf()
    problems = compare_frames(got, want)
    assert not problems, (
        f"seed={seed} sql={str_sql(s)} problems={problems[:3]}"
    )


def test_seed_space_is_diverse(spark):  # Column construction needs a live JVM
    """The generators must actually exercise joins, global aggs, grouped
    aggs, unpartitioned windows, and the windowed-integer-SUM drift class
    across the pinned seed lists — guard against a refactor collapsing the
    space."""
    shapes = [gen_shape(s) for s in SEEDS]
    assert any(s.joined for s in shapes)
    assert any(not s.keys for s in shapes)
    assert any(len(s.keys) == 2 for s in shapes)
    assert any(not s.preds for s in shapes)
    assert any(len(s.preds) == 3 for s in shapes)
    wins = [gen_window_shape(s) for s in WIN_SEEDS]
    assert any(w.part is None for w in wins)
    assert any(w.pred is not None for w in wins)
    fn_names = {f.name for w in wins for f in w.fns}
    assert "cum_key" in fn_names  # the r02 windowed HUGEINT class
    assert "cum_rev_units" in fn_names
    joins = [gen_join_shape(s) for s in JOIN_SEEDS]
    assert {j.kind for j in joins} == {"inner", "left", "semi", "anti"}
    assert any(j.kind == "left" and j.right_pred is not None for j in joins)
    assert any(j.null_key_group for j in joins)
    sets = [gen_set_shape(s) for s in SET_SEEDS]
    assert len({t.op for t in sets}) >= 5
    assert any(t.op in ("intersect", "except_", "union") for t in sets)
    assert any(t.op.endswith("_all") or t.op == "union_all" for t in sets)
    asofs = [gen_asof_shape(s) for s in ASOF_SEEDS]
    assert {a.direction for a in asofs} == {"backward", "forward"}
    assert any(a.payload for a in asofs)
    assert any(
        a.direction == "backward" and not a.payload for a in asofs
    )  # the merge_asof cross-check must actually fire
    mdims = [gen_mdim_shape(s) for s in MDIM_SEEDS]
    assert {m.op for m in mdims} == {"rollup", "cube", "gsets"}
    assert any(
        any(k.name == "nrf" for k in m.keys) for m in mdims
    )  # marker-vs-data-NULL coexistence must be exercised
    assert any(m.op == "gsets" and () in m.sets for m in mdims)
    vecs = [gen_vec_shape(s) for s in VEC_SEEDS]
    expr_names = {e.name for v in vecs for e in v.exprs}
    assert "sumsq_units" in expr_names  # the ordered float fold
    assert any(v.mod > 1 for v in vecs) and any(v.mod == 1 for v in vecs)
    dates = [gen_date_shape(s) for s in DATE_SEEDS]
    date_names = {e.name for d in dates for e in d.exprs}
    assert "bucket" in date_names and "days_since" in date_names
    nulls = [gen_null_shape(s) for s in NULL_SEEDS]
    null_names = {e.name for n in nulls for e in n.exprs}
    assert "best" in null_names or "worst" in null_names  # NULL-skipping path
    assert "same_qty" in null_names  # null-safe equality
    assert "threeval" in null_names  # three-valued logic
    regexes = [gen_regex_shape(s) for s in REGEX_SEEDS]
    rx_names = {e.name for r in regexes for e in r.exprs}
    assert {"first_hit", "gutted", "matches"} <= rx_names
    strs = [gen_str_shape(s) for s in STR_SEEDS]
    st_names = {e.name for t in strs for e in t.exprs}
    # padding, literal replace, char translate, search, and distance must
    # all be drawn somewhere across the pinned seeds
    assert {"padded", "swapped", "vowelless", "edit_dist"} <= st_names
    assert any(t.pred is not None for t in strs)
    assert any(t.pred is None for t in strs)


# ---------------------------------------------------------------------------
# Blocked-dedup differential (tier 13) — random embedding corpora with
# planted byte-identical duplicates and degenerate vectors (zero / NaN
# components), random thresholds AND random cell counts, compared against
# the all-pairs form in-engine (both sides Spark — the oracle here is the
# O(n²) reference implementation, not DuckDB). The blocked pipeline claims
# provable exactness for ANY corpus; the round-4 finds (duplicate-
# multiplicity quadratics, NaN cell-pruning divergence) were invisible on
# the clean driver corpus, which is exactly why this space is fuzzed.
# ---------------------------------------------------------------------------

# Seed 1300 stays in the default selection as the battery's
# representative (~20 s); the rest of the wave is opt-in (r11, suite
# runtime — see pytest.ini).
DEDUP_SEEDS = [1300] + [
    pytest.param(s, marks=pytest.mark.slow) for s in range(1301, 1312)
]


@pytest.mark.parametrize("seed", DEDUP_SEEDS)
def test_random_blocked_dedup_parity(spark, seed):
    import math
    import random as _random

    from etl_asana_spark.operators import dedup as _dedup

    rng = _random.Random(seed)
    dim = rng.choice([3, 5, 8, 16])
    n = rng.randint(8, 60)

    def vec():
        kind = rng.random()
        if kind < 0.08:
            return [0.0] * dim  # zero vector: NULL cosine on both sides
        if kind < 0.14:
            v = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
            v[rng.randrange(dim)] = float("nan")  # NaN: kept at ANY threshold
            return v
        return [round(rng.uniform(-1.0, 1.0), 3) for _ in range(dim)]

    rows, next_id = [], 0
    for v in (vec() for _ in range(n)):
        for _ in range(1 + (rng.randrange(4) if rng.random() < 0.3 else 0)):
            rows.append((next_id, v))
            next_id += 1
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    thr = rng.choice([-0.5, 0.2, 0.7, 0.95, 1.05])
    bits = rng.choice([2, 4, 6])
    ap = _dedup.embedding_cosine_dups(df, threshold=thr).collect()
    bl = _dedup.embedding_cosine_dups_blocked(
        df, threshold=thr, n_sign_bits=bits
    ).collect()

    def key(r):
        c = r["cos"]
        c = (
            "nan"
            if c is None or (isinstance(c, float) and math.isnan(c))
            else round(c, 9)
        )
        return (r["id_a"], r["id_b"], c)

    assert sorted(map(key, ap)) == sorted(map(key, bl)), (
        f"seed={seed} thr={thr} bits={bits} n={len(rows)} dim={dim}"
    )


# ---------------------------------------------------------------------------
# Streaming-drain oracle differential (tier 14) — random (window, watermark)
# configs for the bounded tumbling drain, checked against a PARAMETRICALLY
# GENERATED DuckDB oracle (not the Spark batch twin): the same emission rule
# the gate-facing q_stream_* oracles encode — tumbling windows aligned to
# epoch multiples of the width, append-mode emission iff
# win.end <= max(ts) - watermark, float sums through the fixed-point dsum
# accumulator. A drift in ANY of those rules (alignment arithmetic, the
# <= boundary, dsum parity inside the stateful engine) fails a seed here
# before the external gate sees the fixed-config keys built on them.
# ---------------------------------------------------------------------------

STREAM_SEEDS = list(range(1400, 1406))


@pytest.mark.parametrize("seed", STREAM_SEEDS)
def test_random_streaming_drain_vs_duckdb_oracle(spark, sf_dir, seed):
    import random as _random

    from etl_asana_spark.functions.parity import sql_dsum
    from etl_asana_spark.streaming import jobs
    from etl_asana_spark.testing import duckdb_connect

    rng = _random.Random(seed)
    win_min = rng.choice([20, 45, 90, 120, 180])
    wm_min = rng.choice([5, 15, 60, 120])
    out = jobs.tumbling_counts_stream(
        spark, sf_dir,
        window=f"{win_min} minutes", watermark=f"{wm_min} minutes",
    ).toPandas()
    win_s = win_min * 60
    oracle = f"""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / {win_s}) AS BIGINT)
                   AS slot
        FROM events
    ),
    wm AS (SELECT max(ts) - INTERVAL {wm_min} MINUTES AS w FROM ev)
    SELECT make_timestamp(slot * {win_s} * 1000000) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM ev
    GROUP BY 1, 2
    HAVING make_timestamp(slot * {win_s} * 1000000) + INTERVAL {win_min} MINUTES
           <= (SELECT w FROM wm)
    """
    expected = duckdb_connect(sf_dir).execute(oracle).fetchdf()
    assert len(out) > 0, f"seed={seed} win={win_min}m wm={wm_min}m"
    problems = compare_frames(out, expected)
    assert not problems, f"seed={seed} win={win_min}m wm={wm_min}m: {problems[:3]}"


SESSION_SEEDS = list(range(1450, 1454))


@pytest.mark.parametrize("seed", SESSION_SEEDS)
def test_random_session_drain_vs_duckdb_oracle(spark, sf_dir, seed):
    """Tier-14 session variant: random gap widths for the stateful
    sessionization drain vs a parametric gaps-and-islands oracle. Pins the
    subtlest emission rule of the streaming family: a user's LAST session
    emits iff its event-time timeout (last event + gap) fell STRICTLY
    before the final watermark (Spark fires an EventTimeTimeout only when
    the watermark advances past the set timestamp)."""
    import random as _random

    from etl_asana_spark.streaming import jobs
    from etl_asana_spark.testing import duckdb_connect

    rng = _random.Random(seed)
    gap_min = rng.choice([10, 20, 45, 90, 240])
    out = jobs.sessionize_stream(spark, sf_dir, gap_minutes=gap_min).toPandas()
    oracle = f"""
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL {gap_min} MINUTES
                    THEN 0 ELSE 1 END AS new_sess
        FROM ev
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sess_id
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, sess_id
    ),
    ranked AS (
        SELECT *, MAX(session_end) OVER (PARTITION BY user_id) AS user_last_end
        FROM sessions
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTES AS w FROM ev)
    SELECT user_id, session_start, session_end, n_events
    FROM ranked
    WHERE session_end < user_last_end
       OR session_end + INTERVAL {gap_min} MINUTES < (SELECT w FROM wm)
    """
    expected = duckdb_connect(sf_dir).execute(oracle).fetchdf()
    assert len(out) > 0, f"seed={seed} gap={gap_min}m"
    problems = compare_frames(out, expected)
    assert not problems, f"seed={seed} gap={gap_min}m: {problems[:3]}"


SLIDING_SEEDS = list(range(1470, 1475))


@pytest.mark.parametrize("seed", SLIDING_SEEDS)
def test_random_sliding_drain_vs_duckdb_oracle(spark, sf_dir, seed):
    """Tier-14 sliding variant: random (window, slide) ratios — including
    slides that do NOT divide the window, where the per-event window count
    varies by phase — vs a parametric oracle that generates every
    slide-multiple start in (ts - window, ts] and keeps the emission rule.
    Pins the hop-alignment arithmetic beyond the catalog key's 4:1 case."""
    import math
    import random as _random

    from etl_asana_spark.functions.parity import sql_dsum
    from etl_asana_spark.streaming import jobs
    from etl_asana_spark.testing import duckdb_connect

    rng = _random.Random(seed)
    win_min, slide_min = rng.choice(
        [(50, 20), (90, 60), (35, 10), (120, 45), (60, 25), (80, 30)]
    )
    out = jobs.sliding_counts_stream(
        spark, sf_dir,
        window=f"{win_min} minutes", slide=f"{slide_min} minutes",
    ).toPandas()
    win_s, slide_s = win_min * 60, slide_min * 60
    n_off = math.ceil(win_s / slide_s)
    oracle = f"""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / {slide_s}) AS BIGINT)
                   AS slot
        FROM events
    ),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTES AS w FROM ev),
    expanded AS (
        SELECT make_timestamp((slot - off.i) * {slide_s} * 1000000) AS bucket,
               event_type, value
        FROM ev CROSS JOIN (SELECT unnest(range({n_off})) AS i) AS off
        -- keep only starts the event actually falls inside: a slide that
        -- does not divide the window makes the last offset conditional
        WHERE (slot - off.i) * {slide_s} + {win_s} > epoch(ts)
    )
    SELECT bucket, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM expanded
    GROUP BY 1, 2
    HAVING bucket + INTERVAL {win_min} MINUTES <= (SELECT w FROM wm)
    """
    expected = duckdb_connect(sf_dir).execute(oracle).fetchdf()
    assert len(out) > 0, f"seed={seed} win={win_min}m slide={slide_min}m"
    problems = compare_frames(out, expected)
    assert not problems, (
        f"seed={seed} win={win_min}m slide={slide_min}m: {problems[:3]}"
    )


# ---------------------------------------------------------------------------
# Tier 15 — dynamic-conf perturbation: correctness must be conf-invariant
# ---------------------------------------------------------------------------
#
# The driver owns its SparkSession, and nothing in the gate contract fixes
# the dynamic SQL confs the engine does not pin: whole-stage codegen, ANSI
# mode, the broadcast-join threshold (a plan-strategy axis: -1 forces every
# equi-join to sort-merge), and a non-default shuffle.partitions (which the
# engine deliberately respects). Confs the engine DOES pin (session TZ,
# AQE, Arrow) are perturbed here too — that exercises the
# ensure_engine_confs re-pin path on plan-cache hits. Each seed draws a
# random combination of perturbations plus a random oracled catalog key;
# the DuckDB comparison must come out identical regardless.

_TIER15_CONF_AXES = {
    # axis -> candidate perturbed values (None = leave at current value)
    "spark.sql.codegen.wholeStage": ["false"],
    "spark.sql.ansi.enabled": ["true", "false"],
    "spark.sql.autoBroadcastJoinThreshold": ["-1", "1024"],
    "spark.sql.shuffle.partitions": ["1", "5", "37"],
    "spark.sql.session.timeZone": ["America/New_York", "Asia/Tokyo"],
    "spark.sql.adaptive.enabled": ["false"],
    "spark.sql.execution.arrow.pyspark.enabled": ["false"],
}

#: Cheap, physically diverse oracled keys: scans, broadcast + shuffle +
#: asof joins, hash/rollup aggregation, window frames, event-time windows,
#: set ops, sorts, array HOFs, date arithmetic, text explode-agg.
_TIER15_KEYS = [
    "q_agg_groupby", "q_join_star", "q_join_outer", "q_join_asof",
    "q_win_rank", "q_win_range", "q_win_tumbling", "q_fn_date",
    "q_fn_array", "q_set_except", "q_agg_rollup", "q_topk",
    "q_sort_global", "q_text_tokens", "q_emb_norm", "q_join_anti",
]

CONF_SEEDS = list(range(1500, 1512))


@pytest.mark.parametrize("seed", CONF_SEEDS)
def test_random_conf_perturbation_parity(spark, duck, sf_dir, seed):
    import random as _random

    from etl_asana_spark.testing import check_query

    rng = _random.Random(seed)
    key = rng.choice(_TIER15_KEYS)
    perturbed = {
        axis: rng.choice(vals)
        for axis, vals in _TIER15_CONF_AXES.items()
        if rng.random() < 0.5
    }
    saved = {}
    for axis, val in perturbed.items():
        try:
            saved[axis] = spark.conf.get(axis)
        except Exception:
            saved[axis] = None
        spark.conf.set(axis, val)
    try:
        problems = check_query(spark, duck, key, sf_dir)
        assert not problems, (
            f"seed={seed} key={key} confs={perturbed}: {problems[:3]}"
        )
    finally:
        for axis, old in saved.items():
            if old is None:
                spark.conf.unset(axis)
            else:
                spark.conf.set(axis, old)


# ---------------------------------------------------------------------------
# Text-collapse differential (tier 16) — random text corpora with random copy
# multiplicities vs random thresholds INCLUDING the self-distance boundary,
# across all four text pair families and the clusters wrapper. The collapse
# path (one representative per distinct text, _collapsed_pairs) claims
# bit-identical output to the naive formulation for ANY corpus and ANY
# threshold; the round-4 review found the claim broke exactly at the
# boundary (minhash emitted within-group pairs at jaccard_threshold=1.0
# where approxSimilarityJoin's strict < filter emits nothing), which the
# fixed-threshold differential test could not see. Boundary values are
# first-class draws here, and each family's filter strictness (strict <
# for MinHash distance, inclusive for Jaccard/Hamming) is whatever the
# naive side actually does — the differential needs no encoding of it.
# ---------------------------------------------------------------------------

COLLAPSE_SEEDS = list(range(1600, 1610))


def _tier16_corpus(rng):
    words = [f"w{i}" for i in range(rng.randint(5, 40))]
    base = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 25)))
        for _ in range(rng.randint(10, 35))
    ]
    # near-dup chains off a random anchor + degenerate shapes
    if base:
        anchor = rng.choice(base)
        base += [anchor + " extra", (anchor + " ") * 2]
    base += ["", "  ", "one two", "\tone  two\n"]
    rows, i = [], 0
    for t in base:
        mult = rng.randint(2, 6) if rng.random() < 0.4 else 1
        for _ in range(mult):
            rows.append((i, t))
            i += 1
    rows.append((i, None))
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("seed", COLLAPSE_SEEDS)
def test_random_text_collapse_parity(spark, seed):
    import random as _random

    from etl_asana_spark.operators import dedup as _dedup

    rng = _random.Random(seed)
    docs = spark.createDataFrame(
        _tier16_corpus(rng), "doc_id long, text string"
    )

    family = rng.choice(
        ["minhash_portable", "simhash_portable", "ngram", "prefix", "clusters"]
    )
    if family == "minhash_portable":
        kw = dict(
            jaccard_threshold=rng.choice([0.2, 0.5, 0.9, 1.0]),
            shingle_n=rng.choice([2, 3]),
        )
        fn, cols = _dedup.minhash_portable_pairs, ["id_a", "id_b", "jaccard_dist"]
    elif family == "simhash_portable":
        kw = dict(max_hamming=rng.choice([-1, 0, 4, 12]))
        fn, cols = _dedup.simhash_portable_pairs, ["id_a", "id_b", "hamming"]
    elif family == "ngram":
        kw = dict(n=rng.choice([2, 3]),
                  threshold=rng.choice([0.05, 0.5, 1.0, 1.5]))
        fn, cols = _dedup.ngram_jaccard_pairs, ["doc_a", "doc_b", "jaccard"]
    elif family == "prefix":
        kw = dict(n=rng.choice([2, 3]),
                  threshold=rng.choice([0.05, 0.5, 1.0, 1.5]))
        fn, cols = (
            _dedup.prefix_filter_jaccard_pairs,
            ["doc_a", "doc_b", "jaccard"],
        )
    else:
        n = rng.choice([2, 3])
        thr = rng.choice([0.05, 0.3, 1.0])
        got = sorted(
            tuple(r)
            for r in _dedup.ngram_dedup_clusters(
                docs, n=n, threshold=thr
            ).collect()
        )
        naive_pairs = _dedup.ngram_jaccard_pairs(
            docs, n=n, threshold=thr, collapse=False
        ).select("doc_a", "doc_b")
        want = sorted(
            tuple(r) for r in _dedup.dedup_clusters(naive_pairs, docs).collect()
        )
        assert got == want, f"seed={seed} clusters n={n} thr={thr}"
        return

    got = sorted(
        tuple(r) for r in fn(docs, collapse=True, **kw).select(*cols).collect()
    )
    want = sorted(
        tuple(r) for r in fn(docs, collapse=False, **kw).select(*cols).collect()
    )
    assert got == want, (
        f"seed={seed} family={family} kw={kw} "
        f"(+{len(set(got) - set(want))} -{len(set(want) - set(got))})"
    )


# ---------------------------------------------------------------------------
# Streaming fragmentation differential (tier 17) — a bounded drain's answer
# must be invariant to the events table's physical layout: part-file count,
# row order within/across parts, and file mtime (listing) order are all
# meaningless at 100 TB scale, where every table arrives as many task-written
# part files. Guards the round-4 fix that removed the per-file trigger from
# bounded replays (file-by-file draining advanced the watermark between
# micro-batches and dropped later-listed/earlier-timestamped rows).
# ---------------------------------------------------------------------------


def _tier17_events(rng):
    from datetime import datetime, timedelta

    base = datetime(2024, 5, 1, 8, 0)
    rows = []
    for i in range(rng.randrange(150, 400)):
        rows.append((
            i,
            base + timedelta(seconds=rng.randrange(0, 6 * 3600)),
            rng.randrange(1, 12),
            rng.choice(["view", "click", "purchase"]),
            round(rng.uniform(0, 50), 2),
            "{}",
        ))
    return rows


@pytest.mark.parametrize(
    "seed",
    [1700]  # representative in the default selection; rest opt-in (r11)
    + [pytest.param(s, marks=pytest.mark.slow) for s in (1701, 1702)],
)
def test_fuzz_stream_drain_layout_invariance(spark, tmp_path, seed):
    import os
    import time

    from etl_asana_spark.streaming import jobs

    rng = random.Random(seed)
    rows = _tier17_events(rng)
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")

    ref_dir = tmp_path / "ref"
    ref_dir.mkdir()
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(str(ref_dir / "events.parquet"))

    # hostile layout: shuffled rows, ragged part slices, random mtime order
    frag_table = tmp_path / "frag" / "events.parquet"
    frag_table.mkdir(parents=True)
    rng.shuffle(rows)
    n_parts = rng.randrange(2, 8)
    cuts = sorted(rng.sample(range(1, len(rows)), n_parts - 1))
    bounds = [0, *cuts, len(rows)]
    mtimes = list(range(n_parts))
    rng.shuffle(mtimes)
    now = int(time.time())
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = frag_table / f"p{i}"
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.parquet(
            str(part)
        )
        for root, _, files in os.walk(part):
            for f in files:
                os.utime(os.path.join(root, f),
                         (now - 300 + mtimes[i], now - 300 + mtimes[i]))

    # parquet dir-of-dirs: flatten each slice's part file up one level so the
    # table dir is a plain directory of parquet files
    import shutil

    for i in range(n_parts):
        part = frag_table / f"p{i}"
        for f in os.listdir(part):
            if f.endswith(".parquet"):
                st = os.stat(part / f)
                shutil.move(str(part / f), str(frag_table / f"part-{i:04d}.parquet"))
                os.utime(frag_table / f"part-{i:04d}.parquet",
                         (st.st_atime, st.st_mtime))
        shutil.rmtree(part)

    if rng.random() < 0.5:
        window = rng.choice(["17 minutes", "45 minutes", "1 hour"])
        wm = rng.choice(["5 minutes", "30 minutes"])
        got = jobs.tumbling_counts_stream(
            spark, str(tmp_path / "frag"), window=window, watermark=wm
        ).toPandas()
        want = jobs.tumbling_counts_stream(
            spark, str(ref_dir), window=window, watermark=wm
        ).toPandas()
        label = f"tumbling {window}/{wm}"
    else:
        gap = rng.choice([7, 30, 90])
        got = jobs.sessionize_stream(
            spark, str(tmp_path / "frag"), gap_minutes=gap
        ).toPandas()
        want = jobs.sessionize_stream(
            spark, str(ref_dir), gap_minutes=gap
        ).toPandas()
        label = f"session gap={gap}"

    assert canonical_rows(got) == canonical_rows(want), f"seed={seed} {label}"


# ---------------------------------------------------------------------------
# Sequence-packing differential (tier 18) — pack_sequences must equal a
# pure-Python greedy reference on random (id, n_tokens) corpora, for any
# upstream partitioning. Guards the round-5 rewrite that replaced sampled
# range boundaries with doc_id % parts bucketing: the packing is now a pure
# function of (ids, token counts, parts) and the SQL oracle replays it — so
# any Spark-side deviation from the plain greedy scan is a gate red.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("seed", [1800, 1801, 1802, 1803])
def test_fuzz_pack_sequences_vs_python_reference(spark, seed):
    from etl_asana_spark.operators.curation import pack_sequences

    rng = random.Random(seed)
    n_docs = rng.randrange(30, 220)
    max_tokens = rng.choice([64, 120, 512])
    parts = rng.choice([1, 3, 8])
    # sparse, shuffled, duplicate-free ids; token counts span sub- and
    # OVERSIZED-doc cases (an oversized doc must ride alone, not vanish)
    ids = rng.sample(range(0, 5000), n_docs)
    toks = {i: rng.choice([1, 5, 17, max_tokens - 1, max_tokens,
                           max_tokens + rng.randrange(1, 200)]) for i in ids}

    def reference():
        seqs = []
        for b in sorted({i % parts for i in ids}):
            cur_ids: list[int] = []
            cur_tok = 0
            n_seq = 0
            for did in sorted(i for i in ids if i % parts == b):
                t = toks[did]
                if cur_ids and cur_tok + t > max_tokens:
                    seqs.append((b * 1_000_000 + n_seq, tuple(cur_ids),
                                 len(cur_ids), cur_tok))
                    n_seq += 1
                    cur_ids, cur_tok = [], 0
                cur_ids.append(did)
                cur_tok += t
            if cur_ids:
                seqs.append((b * 1_000_000 + n_seq, tuple(cur_ids),
                             len(cur_ids), cur_tok))
        return sorted(seqs)

    rows = [(i, toks[i]) for i in ids]
    rng.shuffle(rows)
    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(
        rng.choice([1, 5, 13])
    )
    got = sorted(
        (r["seq_id"], tuple(r["doc_ids"]), r["n_docs"], r["total_tokens"])
        for r in pack_sequences(docs, max_tokens=max_tokens, parts=parts).collect()
    )
    assert got == reference(), (
        f"seed={seed} n_docs={n_docs} max={max_tokens} parts={parts}"
    )


# ---------------------------------------------------------------------------
# Rolling-hash differential (tier 19) — poly_hash must be the identical pure
# function of the string's code points in all THREE engines (Spark codegen
# HOF fold, DuckDB list_reduce, plain Python), including astral-plane
# characters (emoji), combining marks, and whitespace/punctuation runs.
# Guards the round-5 q_text_fingerprint oracle upgrade: the SQL oracle
# re-implements the fold, so any per-character drift (split semantics,
# codepoint function, modulus overflow) is a silent corpus-wide mismatch.
# ---------------------------------------------------------------------------

_TIER19_ALPHABET = (
    "abcXYZ 019 .,;!?-_'\"éüñß 汉字 кирилл αβγ \U0001F600\U0001F680"
    "\U0001D54Á \t"
)


@pytest.mark.parametrize("seed", [1900, 1901, 1902, 1903])
def test_fuzz_poly_hash_three_engine_agreement(spark, duck, seed):
    from etl_asana_spark.operators.text import poly_hash

    rng = random.Random(seed)
    texts = [
        "".join(rng.choice(_TIER19_ALPHABET) for _ in range(rng.randrange(1, 80)))
        for _ in range(40)
    ]

    M = 1 << 40

    def py_hash(s: str) -> int:
        h = 0
        for ch in s:
            h = (h * 131 + ord(ch)) % M
        return h

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got_spark = {
        r["i"]: r["h"]
        for r in df.select("i", poly_hash("text").alias("h")).collect()
    }
    duck_expr = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split(t.text, ''), "
        "c -> CAST(unicode(c) AS BIGINT))), "
        "(a, x) -> (a * 131 + x) % 1099511627776)"
    )
    got_duck = dict(
        duck.execute(
            f"SELECT t.i, {duck_expr} AS h FROM "
            "(SELECT UNNEST(range(?)) AS i, UNNEST(?) AS text) t",
            [len(texts), texts],
        ).fetchall()
    )
    for i, t in enumerate(texts):
        want = py_hash(t)
        assert got_spark[i] == want, f"seed={seed} spark i={i} {t!r}"
        assert got_duck[i] == want, f"seed={seed} duckdb i={i} {t!r}"


# ---------------------------------------------------------------------------
# Media-codec differential (tier 20, r07) — the pure-stdlib codecs
# (PNG/JPEG/WAV/MJPEG-AVI) under random content, shapes, and hostile
# mutations. Lossless paths must round-trip EXACTLY; JPEG is bounded by
# quantization; mutated/garbage payloads must flow through the kernel
# dispatch without raising (tier contract). Seed-parametrized so the
# per-round off-list scan (scripts/offlist_fuzz.py) exercises fresh draws.
# ---------------------------------------------------------------------------

CODEC_SEEDS = list(range(2300, 2306))


@pytest.mark.parametrize("seed", CODEC_SEEDS)
def test_media_codec_roundtrip_fuzz(seed):
    import random as _random

    from etl_asana_spark.operators import avi_codec, jpeg_codec, png_codec, wav_codec
    from etl_asana_spark.operators.multimodal import _decode_payload

    rng = _random.Random(seed)

    # PNG: lossless — exact round-trip on random pixels, random filter
    w, h = rng.randint(1, 24), rng.randint(1, 18)
    pix = bytes(rng.randrange(256) for _ in range(w * h * 3))
    png = png_codec.encode_png(w, h, pix, color_type=2, filter_type=rng.randrange(5))
    assert png_codec.decode_png(png) == (w, h, 3, pix)

    # WAV: lossless PCM16 — exact round-trip
    n = rng.randint(1, 300)
    rate = rng.choice([8000, 12000, 16000, 44100])
    samples = [rng.randint(-32768, 32767) for _ in range(n)]
    assert wav_codec.decode_wav(wav_codec.encode_wav(rate, samples)) == (rate, samples)

    # JPEG: smooth ramp, quantization-bounded; exact dims always
    jw, jh = rng.randint(1, 28), rng.randint(1, 22)
    base = rng.randrange(200)
    jpix = bytes(
        (base + x * 2 + y) % 256 for y in range(jh) for x in range(jw) for _ in range(3)
    )
    enc = jpeg_codec.encode_jpeg(
        jw, jh, jpix, quality=rng.choice([75, 85, 95]),
        subsample=rng.random() < 0.5,
        restart_interval=rng.choice([0, 0, 1, 3]),
    )
    dw, dh, dbpp, dec = jpeg_codec.decode_jpeg(enc)
    assert (dw, dh, dbpp, len(dec)) == (jw, jh, 3, jw * jh * 3)
    assert sum(abs(a - b) for a, b in zip(jpix, dec)) / len(jpix) < 12.0

    # AVI: mux/demux byte-exact over 1..5 JPEG frames
    frames = [enc] * rng.randint(1, 5)
    avi = avi_codec.encode_mjpeg_avi(frames, jw, jh)
    assert avi_codec.demux_mjpeg_avi(avi) == frames

    # IMA-ADPCM (r08): lossy but deterministic — block-start samples are
    # exact (the header carries the true sample), count round-trips, and
    # a second decode is bit-identical
    import math as _math

    adp_n = rng.randint(2, 900)
    period = rng.randint(5, 40)
    smooth = [int(8000 * _math.sin(i / period)) for i in range(adp_n)]
    blk = rng.choice([9, 129, 505])
    adp = wav_codec.encode_ima_adpcm(rate, smooth, block_frames=blk)
    r2, dec2 = wav_codec.decode_wav(adp)
    assert (r2, len(dec2)) == (rate, adp_n)
    assert wav_codec.decode_wav(adp) == (r2, dec2)
    for b in range(0, adp_n, blk):
        assert dec2[b] == smooth[b]

    # hostile mutations of EVERY container must not crash the dispatch,
    # and mutated AVIs must keep the demuxer inside its ValueError-only
    # contract (r07 review finding: the AVI was round-tripped but never
    # mutated, so demux contract escapes were invisible to this tier);
    # mutated ADPCM must stay inside the audio kernel's contract too
    from etl_asana_spark.operators.multimodal import _audio_read

    for payload in (png, enc, wav_codec.encode_wav(rate, samples), avi, adp):
        for _ in range(5):
            cut = rng.randint(1, len(payload))
            mut = bytearray(payload[:cut])
            if mut and rng.random() < 0.8:
                mut[rng.randrange(len(mut))] ^= 1 << rng.randrange(8)
            dw2, dh2, feats = _decode_payload(bytes(mut))
            assert len(feats) == 8
            try:
                avi_codec.demux_mjpeg_avi(bytes(mut))
            except ValueError:
                pass  # the ONLY exception the demux contract permits
            # the WAV decoder raises only ValueError on a mutated
            # container, and the audio dispatch must never crash either:
            # a mutated container either still decodes (real tier) or
            # falls to the raw-PCM reading — anything else is a contract
            # escape
            try:
                wav_codec.decode_wav(bytes(mut))
            except ValueError:
                pass  # the ONLY exception the decode contract permits
            mtype2, rate2, _s = _audio_read(bytes(mut))
            assert mtype2 in ("audio/wav", "audio/pcm-u8") and rate2 > 0
