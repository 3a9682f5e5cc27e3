"""Self-tests of the benchmark: seeded inputs, the checker's negative
control, and a one-pass smoke run of every workload at a tiny size.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "analytics": {"scale": 0.01, "docs": 40, "planted_docs": 10, "vecs": 60,
                  "planted_vecs": 10},
    "asana_sync": {"initial": 200, "rounds": 2, "per_round": 100, "stream_scale": 0.01},
}


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _prepared(name: str, root: str, seed: int) -> workloads.Workload:
    wl = workloads.WORKLOADS[name](TINY[name])
    wl.prepare(root, seed)
    return wl


@pytest.mark.parametrize("name", sorted(TINY))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    a = _prepared(name, str(tmp_path / "a"), 5)
    b = _prepared(name, str(tmp_path / "b"), 5)
    c = _prepared(name, str(tmp_path / "c"), 6)
    assert _tree_digest(a.dir) == _tree_digest(b.dir)
    assert _tree_digest(a.dir) != _tree_digest(c.dir)
    assert a.manifest == b.manifest


def test_cached_inputs_are_reused(tmp_path):
    wl = workloads.WORKLOADS["analytics"](TINY["analytics"])
    assert wl.prepare(str(tmp_path), 1) is True
    assert wl.prepare(str(tmp_path), 1) is False


def test_planted_copies_are_near_duplicates(tmp_path):
    import pyarrow.parquet as pq

    wl = _prepared("analytics", str(tmp_path), 3)
    docs = pq.read_table(os.path.join(wl.dir, "documents.parquet")).to_pylist()
    planted = set(wl.manifest["planted_doc_ids"])
    originals = [d for d in docs if d["doc_id"] not in planted]
    assert len(planted) == TINY["analytics"]["planted_docs"]
    assert min(planted) > max(d["doc_id"] for d in originals)

    def trigrams(t):
        w = t.split(" ")
        return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

    by_text = [trigrams(d["text"]) for d in originals]
    for d in docs:
        if d["doc_id"] in planted:
            s = trigrams(d["text"])
            best = max(len(s & o) / len(s | o) for o in by_text)
            assert 0.5 <= best < 1.0


def test_asana_rounds_redeliver_with_later_modified_at(tmp_path):
    import json

    wl = _prepared("asana_sync", str(tmp_path), 4)
    seen: dict[str, str] = {}
    redelivered = 0
    for r in wl.manifest["rounds"]:
        with open(os.path.join(wl.dir, r["file"])) as f:
            for line in f:
                t = json.loads(line)
                if t["gid"] in seen:
                    redelivered += 1
                    assert t["modified_at"] > seen[t["gid"]]
                seen[t["gid"]] = t["modified_at"]
    assert redelivered == 2 * int(TINY["asana_sync"]["per_round"] * gen.REDELIVER_FRAC)
    assert wl.manifest["truth"][-1]["tasks"] == len(seen)


def test_checker_catches_a_corrupted_catalog_result(tmp_path):
    """Negative control: the oracle's own answer passes, one changed cell
    fails."""
    from etl_asana_spark import catalog
    from etl_asana_spark.testing import duckdb_connect

    wl = _prepared("analytics", str(tmp_path), 2)
    con = duckdb_connect(wl.dir)
    good = con.execute(catalog.oracle_sql()["q_join_star"]).fetchdf()
    con.close()
    bad = good.copy()
    bad.loc[0, "n_orders"] += 1
    outputs = {("q_join_star", workloads.frame_digest(df)): df for df in (good, bad)}
    ok = wl.verify(None, outputs)
    assert ok[("q_join_star", workloads.frame_digest(good))] is True
    assert ok[("q_join_star", workloads.frame_digest(bad))] is False


def test_checker_catches_a_corrupted_sync_store(tmp_path):
    wl = _prepared("asana_sync", str(tmp_path), 2)
    t = wl.manifest["truth"][1]
    counts = (("task_custom_fields", t["task_custom_fields"]),
              ("task_memberships", t["task_memberships"]),
              ("task_tags", t["task_tags"]), ("tasks", t["tasks"]))
    good = (1, t["max_modified"], t["tasks"], t["versions_digest"], counts)
    stale = (1, t["max_modified"], t["tasks"], "0" * 64, counts)
    ok = wl.verify(None, {("round_1", good): None, ("round_1", stale): None})
    assert ok == {("round_1", good): True, ("round_1", stale): False}


@pytest.fixture(scope="module")
def bench_tmp(tmp_path_factory):
    """Scratch for Spark and the engine, as the benchmark command sets it."""
    import run
    from pyspark.sql import SparkSession

    tmp = str(tmp_path_factory.mktemp("perfbench"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    yield tmp
    run.stop_engine(SparkSession.getActiveSession())


@pytest.mark.parametrize("name", sorted(TINY))
def test_one_pass_smoke(bench_tmp, name):
    import run

    wl = _prepared(name, os.path.join(bench_tmp, "cache"), 9)
    runner = run.Runner(wl, 9, traced=False, tmp=bench_tmp)
    runner.setup()
    wall, execs = runner.run_pass()
    wl.after_pass(runner.n_pass)
    assert wall > 0
    assert [e.key for e in execs] == [wl.item_keys()[i] for i in runner.order] \
        or name == "asana_sync"
    assert all(e.error is None for e in execs), [e.error for e in execs]
    assert run.check(runner, execs) == 0
    wl.close()
