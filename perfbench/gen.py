"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, a different seed writes different keys, row
order, values and edits. Star and corpus tables follow the column types of
the engine's ten registry tables (FIXTURES.md §A), written as part-file
directories so the engine and the DuckDB oracle read the same layout.
The Asana rounds follow the task shape of ``sources/fixtures.py``.

Each generator returns a manifest: input rows and bytes per table plus
whatever ground truth the workload's correctness check needs.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the star tables at scale 1.0 (the sf0.1 shape).
STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "users": 1_500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["error", "click", "view", "signup", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

#: Corpus vocabulary in the style of the sf0.1 ``documents`` table plus
#: the English stopwords the curation quality gate counts.
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "index cache shuffle plan task stage node disk memory file schema record "
    "field split load store write read sync token graph vector"
).split()
STOPWORDS = ["the", "of", "and", "to", "in", "is", "that", "for"]

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_ORDER_DAYS = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
_EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _write(df: pa.Table, path: str, parts: int, rng: np.random.Generator) -> int:
    """Write ``df`` in seed-shuffled row order as ``parts`` part files under
    the directory ``path``; return the bytes written."""
    os.makedirs(path, exist_ok=True)
    df = df.take(pa.array(rng.permutation(df.num_rows)))
    bounds = np.linspace(0, df.num_rows, parts + 1).astype(int)
    total = 0
    for i in range(parts):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(df.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        total += os.path.getsize(f)
    return total


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n = {k: max(1, int(v * scale)) for k, v in STAR_ROWS.items()}
    # Seed-chosen key offsets: each seed is a different slice of key space.
    off = {k: int(rng.integers(0, 1_000)) * 1_000_000 for k in
           ("cust", "supp", "part", "order", "event", "user")}

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    custkeys = off["cust"] + np.arange(n["customer"], dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkeys,
        "c_name": [f"Customer#{k:09d}" for k in custkeys],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])],
    })
    suppkeys = off["supp"] + np.arange(n["supplier"], dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": suppkeys,
        "s_name": [f"Supplier#{k:09d}" for k in suppkeys],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    partkeys = off["part"] + np.arange(n["part"], dtype=np.int64)
    words = np.array(VOCAB)
    part = pa.table({
        "p_partkey": partkeys,
        "p_name": [f"{a} {b}" for a, b in zip(
            words[rng.integers(0, len(VOCAB), n["part"])],
            words[rng.integers(0, len(VOCAB), n["part"])])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 2100.0, n["part"]),
    })

    n_ord = n["orders"]
    orderkeys = off["order"] + np.arange(n_ord, dtype=np.int64)
    order_day = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    orderdate = _EPOCH_1995 + order_day.astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": orderkeys,
        "o_custkey": custkeys[rng.integers(0, n["customer"], n_ord)],
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })

    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    li_order = np.repeat(np.arange(n_ord), lines_per)
    starts = np.cumsum(lines_per) - lines_per
    linenumber = np.arange(n_li) - np.repeat(starts, lines_per) + 1
    shipdate = orderdate[li_order] + rng.integers(1, 96, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": orderkeys[li_order],
        "l_partkey": partkeys[rng.integers(0, n["part"], n_li)],
        "l_suppkey": suppkeys[rng.integers(0, n["supplier"], n_li)],
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    })

    n_ev = n["events"]
    userkeys = off["user"] + np.arange(n["users"], dtype=np.int64)
    ts = np.sort(_EVENT_START + rng.integers(0, _EVENT_SPAN_US, n_ev).astype("timedelta64[us]"))
    events = pa.table({
        "event_id": off["event"] + np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": userkeys[rng.integers(0, n["users"], n_ev)],
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0.0, 560.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def _doc_text(rng: np.random.Generator, lang: str) -> str:
    n = int(rng.integers(50, 110))
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]
    if lang == "en":
        for pos in rng.choice(n, size=4, replace=False):
            words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return " ".join(words)


def _near_copy(rng: np.random.Generator, text: str, edits: int) -> str:
    """Replace ``edits`` words with different non-stopword vocabulary words:
    the copy keeps its length and stays a trigram-Jaccard near-duplicate."""
    words = text.split(" ")
    for pos in rng.choice(len(words), size=edits, replace=False):
        old = words[pos]
        new = old
        while new == old:
            new = VOCAB[int(rng.integers(0, len(VOCAB)))]
        words[pos] = new
    return " ".join(words)


def _documents(rng: np.random.Generator, n_docs: int, n_planted: int,
               id_base: int) -> tuple[pa.Table, pa.Table, list[int]]:
    """(all docs, the unplanted sample, planted doc ids). Planted copies get
    ids above every original, so the original stays each cluster's
    canonical (smallest-id) survivor."""
    langs = [str(x) for x in rng.choice(LANGS, size=n_docs, p=LANG_P)]
    texts = [_doc_text(rng, lang) for lang in langs]
    ids = list(range(id_base, id_base + n_docs))
    sources = [f"src{s}" for s in rng.integers(0, 20, n_docs)]
    src = rng.choice(n_docs, size=n_planted, replace=True).tolist()
    planted_ids = [id_base + n_docs + j for j in range(n_planted)]
    planted_texts = [_near_copy(rng, texts[i], int(rng.integers(1, 4)))
                     for i in src]

    def table(doc_id, text, lang, source):
        return pa.table({
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": text, "lang": lang, "source": source,
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        })

    sample = table(ids, texts, langs, sources)
    full = table(ids + planted_ids, texts + planted_texts,
                 langs + [langs[i] for i in src],
                 sources + [sources[i] for i in src])
    return full, sample, planted_ids


def _embeddings(rng: np.random.Generator, n_vecs: int, n_planted: int,
                id_base: int) -> pa.Table:
    """64-dim vectors with geometrically decaying per-axis spread (well
    separated principal components), plus planted copies with one
    component nudged."""
    dim = 64
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.02, (10, dim))
    spread = 0.25 * 0.85 ** np.arange(dim)
    rot, _ = np.linalg.qr(rng.normal(size=(dim, dim)))
    x = (rng.normal(size=(n_vecs, dim)) * spread) @ rot.T + centers[labels]
    src = rng.integers(0, n_vecs, n_planted)
    copies = x[src].copy()
    copies[np.arange(n_planted), rng.integers(0, dim, n_planted)] += 1e-3
    vecs = np.vstack([x, copies]).astype(np.float32)
    n = len(vecs)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32()),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(id_base + np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(np.concatenate([labels, labels[src]]), pa.int32()),
    })


def _write_all(out: str, tables: dict[str, pa.Table], rng: np.random.Generator,
               parts: dict[str, int]) -> dict[str, dict[str, int]]:
    sizes = {}
    for name in sorted(tables):
        t = tables[name]
        nbytes = _write(t, os.path.join(out, f"{name}.parquet"),
                        parts.get(name, 1), rng)
        sizes[name] = {"rows": t.num_rows, "bytes": nbytes}
    return sizes


def gen_star(out: str, seed: int, scale: float, n_docs: int = 200,
             n_planted_docs: int = 0, n_vecs: int = 200,
             n_planted_vecs: int = 0) -> dict:
    """Star schema + events at ``scale`` × the sf0.1 row counts, a document
    sample with ``n_planted_docs`` near-duplicate copies, and vectors with
    ``n_planted_vecs`` near-duplicates. The unplanted sample is written
    beside the registry tables as ``sample_documents.parquet`` for the
    metamorphic curation check."""
    rng = np.random.default_rng([seed, 1])
    tables = _star_tables(rng, scale)
    id_base = int(rng.integers(0, 1000)) * 1_000_000
    docs, sample, planted = _documents(rng, n_docs, n_planted_docs, id_base)
    tables["documents"] = docs
    tables["embeddings"] = _embeddings(rng, n_vecs, n_planted_vecs, id_base)
    sizes = _write_all(out, tables, rng, {"orders": 4, "lineitem": 8, "events": 4,
                                          "documents": 4, "embeddings": 2})
    _write(sample, os.path.join(out, "sample_documents.parquet"), 4, rng)
    records = sum(sizes[t]["rows"] for t in
                  ("orders", "lineitem", "events", "documents", "embeddings"))
    return {"sizes": sizes, "records": records, "planted_doc_ids": planted}


# --------------------------------------------------------------------------
# Asana sync rounds
# --------------------------------------------------------------------------

_TAGS = [(f"999{i:04d}", n) for i, n in enumerate(
    ["bug", "urgent", "backend", "frontend", "design", "infra", "docs", "qa"])]
_SECTIONS = [("8880001", "Backlog"), ("8880002", "In Progress"), ("8880003", "Done")]
_TASK_PRIORITIES = ["Low", "Medium", "High", "Critical"]
_SYNC_START = datetime(2024, 1, 1)
#: Share of each incremental round that re-delivers gids already synced.
REDELIVER_FRAC = 0.4


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _asana_task(rng: np.random.Generator, gid: int, round_no: int,
                created: str, n_users: int, n_projects: int,
                gid_base: int) -> dict:
    # Round r's versions are modified inside day window [7r, 7r + 6]: a
    # re-delivered gid is always strictly newer than its previous version.
    modified = _SYNC_START + timedelta(days=7 * round_no,
                                       seconds=int(rng.integers(0, 6 * 86_400)),
                                       milliseconds=int(rng.integers(0, 1000)))
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), 3)]
    n_tags = int(rng.choice([0, 0, 1, 2, 3]))
    tags = [{"gid": _TAGS[i][0], "name": _TAGS[i][1]}
            for i in rng.choice(len(_TAGS), n_tags, replace=False)]
    proj = int(rng.integers(0, n_projects))
    n_mem = int(rng.integers(1, 3))
    memberships = [
        {"project": {"gid": str(7770000 + (proj + m) % n_projects)},
         "section": dict(zip(("gid", "name"), _SECTIONS[int(rng.integers(0, 3))]))}
        for m in range(n_mem)
    ]
    completed = bool(rng.random() < 0.3)
    custom = [{"gid": "cf001", "name": "priority", "type": "enum",
               "display_value": _TASK_PRIORITIES[int(rng.integers(0, 4))]}]
    if rng.random() > 0.25:
        custom.append({"gid": "cf002", "name": "estimate", "type": "number",
                       "display_value": str([0.5, 1.0, 2.0, 3.5, 5.0, 8.0][int(rng.integers(0, 6))])})
    if rng.random() > 0.5:
        custom.append({"gid": "cf003", "name": "team", "type": "text",
                       "display_value": ["core", "growth", "platform"][int(rng.integers(0, 3))]})
    user = int(rng.integers(0, n_users))
    parent = (str(gid_base + int(rng.integers(0, gid - gid_base)))
              if gid > gid_base and rng.random() < 0.1 else None)
    return {
        "gid": str(gid),
        "name": " ".join(words).capitalize(),
        "notes": " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(0, 13)))),
        "completed": completed,
        "completed_at": _iso(modified) if completed else None,
        "created_at": created,
        "modified_at": _iso(modified),
        "due_on": f"2024-03-{int(rng.integers(1, 29)):02d}" if rng.random() > 0.3 else None,
        "start_on": None,
        "assignee": ({"gid": str(5550000 + user), "name": f"User {user}"}
                     if rng.random() > 0.15 else None),
        "parent": {"gid": parent} if parent else None,
        "projects": [{"gid": str(7770000 + proj), "name": f"Project {proj}"}],
        "memberships": memberships,
        "tags": tags,
        "num_likes": int(rng.integers(0, 6)),
        "custom_fields": custom,
    }


def gen_asana(out: str, seed: int, n_initial: int, n_rounds: int,
              n_per_round: int) -> dict:
    """``round_0.ndjson`` (the initial sync) then ``round_1..n`` incremental
    syncs: ``REDELIVER_FRAC`` of each round re-delivers existing gids with a
    later ``modified_at``, the rest are new gids. Ground truth is the
    newest version per gid after every round."""
    rng = np.random.default_rng([seed, 3])
    gid_base = 1_200_000_000_000_000 + int(rng.integers(0, 1000)) * 1_000_000
    os.makedirs(out, exist_ok=True)
    created: dict[int, str] = {}
    latest: dict[int, dict] = {}
    next_gid = gid_base
    rounds = []
    truth = []
    for r in range(n_rounds + 1):
        if r == 0:
            n_old, n_new = 0, n_initial
        else:
            n_old = int(n_per_round * REDELIVER_FRAC)
            n_new = n_per_round - n_old
        old = ([] if n_old == 0 else
               sorted(rng.choice(sorted(latest), n_old, replace=False).tolist()))
        new = list(range(next_gid, next_gid + n_new))
        next_gid += n_new
        rows = []
        for gid in old + new:
            if gid not in created:
                created[gid] = _iso(_SYNC_START + timedelta(
                    seconds=int(rng.integers(0, 86_400)) + 7 * 86_400 * r))
            task = _asana_task(rng, gid, r, created[gid], 50, 12, gid_base)
            latest[gid] = task
            rows.append(task)
        order = rng.permutation(len(rows))
        path = os.path.join(out, f"round_{r}.ndjson")
        with open(path, "w") as f:
            for i in order:
                f.write(json.dumps(rows[i], separators=(",", ":")) + "\n")
        rounds.append({"file": os.path.basename(path), "records": len(rows),
                       "bytes": os.path.getsize(path)})
        truth.append({
            "tasks": len(latest),
            "task_tags": sum(len(t["tags"]) for t in latest.values()),
            "task_memberships": sum(len(t["memberships"]) for t in latest.values()),
            "task_custom_fields": len(latest),
            "max_modified": max(t["modified_at"] for t in latest.values()),
            "versions_digest": _versions_digest(
                (t["gid"], t["modified_at"]) for t in latest.values()),
        })
    return {
        "rounds": rounds,
        "truth": truth,
        "records": sum(r["records"] for r in rounds),
        "sizes": {f"round_{i}": {"rows": r["records"], "bytes": r["bytes"]}
                  for i, r in enumerate(rounds)},
    }


def _versions_digest(pairs) -> str:
    """Order-insensitive digest of (gid, modified_at) pairs."""
    import hashlib

    h = hashlib.sha256()
    for gid, mod in sorted(pairs):
        h.update(f"{gid}\t{mod}\n".encode())
    return h.hexdigest()
