"""The benchmark's workloads: inputs, items and correctness checks.

A workload owns its generated input directory and yields one pass of
items. An item is a construct step (build the engine's plan, including any
eager jobs the engine launches while building it) and an action step (the
collect, count or write that executes it). Outputs are checked after the
clock stops: ``digest`` reduces an output to a small comparable value right
after the item, and ``verify`` decides once per distinct digest whether it
is correct.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import gen

#: Bumped whenever a generator's output changes, so stale caches are ignored.
GEN_VERSION = 4

#: Bounded streaming drains; each runs its whole drain while being built.
STREAM_KEYS = ("q_stream_dedup", "q_stream_upsert")


@dataclass
class Item:
    key: str
    construct: Callable[[], Any]
    action: Callable[[Any], Any]
    #: DataFrame whose execution the traced run measures with
    #: ``plans.metrics.execution_metrics``; None for write actions.
    traced_df: Callable[[Any], Any] | None = None
    #: Span recorded inside the construct step, named after the layer the
    #: construct call enters (None: the catalog call is the layer).
    construct_layer: str | None = None
    action_layer: str | None = None


def frame_digest(pdf) -> tuple:
    """Order-insensitive digest of a pandas frame: column names, row count
    and a hash of the sorted per-row hashes."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    try:
        rows = pd.util.hash_pandas_object(pdf[cols], index=False).to_numpy()
    except TypeError:  # unhashable cells (arrays): hash their repr
        rows = pd.util.hash_pandas_object(pdf[cols].astype(str), index=False).to_numpy()
    return (tuple(cols), len(pdf),
            hashlib.sha256(np.sort(rows).tobytes()).hexdigest())


class Workload:
    name = ""

    def __init__(self, sizes: dict | None = None) -> None:
        self.sizes = dict(self.default_sizes, **(sizes or {}))
        self.dir = ""
        self.manifest: dict = {}

    default_sizes: dict = {}

    # -- inputs ------------------------------------------------------------

    def prepare(self, cache_root: str, seed: int) -> bool:
        """Generate the inputs for ``seed`` unless cached; True if generated."""
        tag = hashlib.sha256(json.dumps(
            [GEN_VERSION, self.name, seed, self.sizes], sort_keys=True
        ).encode()).hexdigest()[:12]
        self.dir = os.path.join(cache_root, f"{self.name}-{seed}-{tag}")
        done = os.path.join(self.dir, "MANIFEST.json")
        if os.path.exists(done):
            with open(done) as f:
                self.manifest = json.load(f)
            return False
        shutil.rmtree(self.dir, ignore_errors=True)
        self.manifest = self.generate(self.dir, seed)
        with open(done, "w") as f:
            json.dump(self.manifest, f)
        return True

    def generate(self, out: str, seed: int) -> dict:
        raise NotImplementedError

    @property
    def records(self) -> int:
        return self.manifest["records"]

    # -- engine ------------------------------------------------------------

    def load(self, spark) -> None:
        """The registry call a user makes before querying."""
        from etl_asana_spark.registry import load_tables

        load_tables(spark, self.dir)

    def items(self, spark, tracer, order: list[int], pass_id: int) -> list[Item]:
        """One pass of items in ``order``; ``pass_id`` names what it writes."""
        raise NotImplementedError

    def item_keys(self) -> list[str]:
        raise NotImplementedError

    def digest(self, key: str, output: Any) -> Any:
        return frame_digest(output)

    def verify(self, spark, outputs: dict[tuple[str, Any], Any]) -> dict:
        """Map each (key, digest) to True when that output is correct."""
        raise NotImplementedError

    def after_pass(self, pass_id: int) -> dict[str, float]:
        """Filesystem readings of one pass; removes what the pass wrote."""
        return {}

    def close(self) -> None:
        pass


class _CatalogWorkload(Workload):
    """Items are catalog keys run against the generated directory and
    checked against their DuckDB oracle SQL."""

    keys: tuple[str, ...] = ()

    def item_keys(self) -> list[str]:
        return list(self.keys)

    def _catalog_item(self, spark, key: str, sf_dir: str | None = None) -> Item:
        from etl_asana_spark import catalog

        fn = catalog.queries()[key]
        sf_dir = sf_dir or self.dir
        return Item(key, lambda: fn(spark, sf_dir), lambda df: df.toPandas(),
                    traced_df=lambda df: df,
                    construct_layer="streaming.drain" if key in STREAM_KEYS else None)

    def verify_catalog(self, outputs: dict, sf_dir: str | None = None) -> dict:
        from etl_asana_spark import catalog
        from etl_asana_spark.testing import compare_frames, duckdb_connect

        oracle = catalog.oracle_sql()
        con = duckdb_connect(sf_dir or self.dir)
        expected: dict[str, Any] = {}
        ok = {}
        try:
            for (key, dig), pdf in outputs.items():
                if key not in oracle:
                    continue
                if key not in expected:
                    expected[key] = con.execute(oracle[key]).fetchdf()
                ok[(key, dig)] = not compare_frames(pdf, expected[key])
        finally:
            con.close()
        return ok

    def verify(self, spark, outputs: dict) -> dict:
        return self.verify_catalog(outputs)


class Analytics(_CatalogWorkload):
    """Star-schema queries and LLM-corpus operators over one directory:
    execution-bound items (scan, shuffle, join, window) next to
    construction- and Python-worker-bound ones (curation, dedup, PCA)."""

    name = "analytics"
    keys = (
        "q_agg_groupby", "q_join_star", "q_win_topk_group", "q_topk",
        "q_join_semi", "q_golden_revenue_forecast", "q_dedup_minhash",
    )
    default_sizes = {"scale": 0.5, "docs": 160, "planted_docs": 40,
                     "vecs": 300, "planted_vecs": 60}

    def generate(self, out: str, seed: int) -> dict:
        s = self.sizes
        return gen.gen_star(out, seed, s["scale"], s["docs"], s["planted_docs"],
                            s["vecs"], s["planted_vecs"])

    def item_keys(self) -> list[str]:
        return ["curate_corpus", *self.keys]

    def items(self, spark, tracer, order: list[int], pass_id: int) -> list[Item]:
        from etl_asana_spark import pipelines
        from etl_asana_spark.registry import load_tables

        keys = self.item_keys()
        out = []
        for i in order:
            if keys[i] != "curate_corpus":
                out.append(self._catalog_item(spark, keys[i]))
                continue
            out.append(Item(
                "curate_corpus",
                lambda: pipelines.curate_corpus(load_tables(spark, self.dir)["documents"]),
                self._count,
                traced_df=lambda res: res.curated.groupBy().count(),
                construct_layer="pipelines.curate_build",
                action_layer="pipelines.curate_action",
            ))
        return out

    def _count(self, res) -> int:
        self._last = res  # the check re-reads its survivors
        return res.curated.count()

    def digest(self, key: str, output: Any) -> Any:
        return output if key == "curate_corpus" else frame_digest(output)

    @staticmethod
    def curated_ids(res) -> set[int]:
        return set(res.curated.select("doc_id").toPandas()["doc_id"].tolist())

    def verify(self, spark, outputs: dict) -> dict:
        """Catalog keys against DuckDB; curation metamorphically: every
        planted copy is gone and the survivors equal the curation of the
        unplanted sample, whose size every count must match."""
        from etl_asana_spark import pipelines

        ok = self.verify_catalog(
            {k: v for k, v in outputs.items() if k[0] != "curate_corpus"})
        counts = [k for k in outputs if k[0] == "curate_corpus"]
        if counts:
            planted = set(self.manifest["planted_doc_ids"])
            full = self.curated_ids(self._last)
            sample = self.curated_ids(pipelines.curate_corpus(spark.read.parquet(
                os.path.join(self.dir, "sample_documents.parquet"))))
            sound = not (full & planted) and full == sample
            for k in counts:
                ok[k] = sound and k[1] == len(sample)
        return ok


class AsanaSync(_CatalogWorkload):
    """The ingest paths. One pass = the initial sync then every incremental
    round, each writing a new store and new output tables, with the bounded
    streaming drains over a star replica's events interleaved."""

    name = "asana_sync"
    keys = STREAM_KEYS
    default_sizes = {"initial": 4000, "rounds": 1, "per_round": 1500,
                     "stream_scale": 0.02}

    @property
    def stream_dir(self) -> str:
        return os.path.join(self.dir, "stream")

    def generate(self, out: str, seed: int) -> dict:
        s = self.sizes
        manifest = gen.gen_asana(out, seed, s["initial"], s["rounds"], s["per_round"])
        star = gen.gen_star(os.path.join(out, "stream"), seed, s["stream_scale"])
        events = star["sizes"]["events"]
        manifest["sizes"]["stream_events"] = events
        manifest["records"] += events["rows"]
        return manifest

    def load(self, spark) -> None:
        """The ETL reads its batches directly; the drains read the replica."""
        from etl_asana_spark.registry import load_tables

        load_tables(spark, self.stream_dir)

    def _rounds(self) -> list[str]:
        return [f"round_{r}" for r in range(self.sizes["rounds"] + 1)]

    def item_keys(self) -> list[str]:
        return [*self._rounds(), *self.keys]

    def _pass_dir(self, pass_id: int) -> str:
        return os.path.join(self.dir, "passes", f"p{pass_id}")

    def items(self, spark, tracer, order: list[int], pass_id: int) -> list[Item]:
        """Drains go where ``order`` puts them; the rounds fill the other
        places in sync order."""
        from etl_asana_spark import pipelines
        from etl_asana_spark.sources import sinks

        base = self._pass_dir(pass_id)

        def round_item(r: int) -> Item:
            store = os.path.join(base, f"store_{r}")
            prev = os.path.join(base, f"store_{r - 1}")
            out_dir = os.path.join(base, f"out_{r}")
            batch = os.path.join(self.dir, self.manifest["rounds"][r]["file"])

            def construct():
                prior = None
                if r > 0:
                    with tracer.span("sources.read_back"):
                        prior = sinks.read_back(spark, prev)
                with tracer.span("pipelines.etl_construct"):
                    return pipelines.run_asana_etl(spark, [batch], prior_tasks=prior)

            def action(result):
                with tracer.span("sources.store_write"):
                    sinks.write_table(result.tasks, store)
                with tracer.span("pipelines.etl_write"):
                    pipelines.write_etl_outputs(result, out_dir)
                return (r, result.checkpoint, store, out_dir)

            return Item(f"round_{r}", construct, action)

        keys = self.item_keys()
        rounds = iter(range(self.sizes["rounds"] + 1))
        return [round_item(next(rounds)) if keys[i].startswith("round_")
                else self._catalog_item(spark, keys[i], self.stream_dir)
                for i in order]

    def digest(self, key: str, output: Any) -> Any:
        """Read what the round wrote (pyarrow, outside the engine)."""
        import pyarrow.dataset as ds

        if key in self.keys:
            return frame_digest(output)
        r, checkpoint, store, out_dir = output
        tasks = ds.dataset(store, format="parquet").to_table(
            columns=["gid", "modified_at"])
        counts = {
            name: ds.dataset(os.path.join(out_dir, name), format="parquet").count_rows()
            for name in ("tasks", "task_tags", "task_memberships", "task_custom_fields")
        }
        return (r, checkpoint, tasks.num_rows,
                gen._versions_digest(zip(tasks["gid"].to_pylist(),
                                         tasks["modified_at"].to_pylist())),
                tuple(sorted(counts.items())))

    def verify(self, spark, outputs: dict) -> dict:
        """Drains against DuckDB on the replica; rounds against the
        generator's newest version per gid."""
        ok = self.verify_catalog(
            {k: v for k, v in outputs.items() if k[0] in self.keys}, self.stream_dir)
        for (key, dig) in outputs:
            if key in self.keys:
                continue
            r, checkpoint, n_tasks, versions, counts = dig
            t = self.manifest["truth"][r]
            ok[(key, dig)] = (
                checkpoint == t["max_modified"]
                and n_tasks == t["tasks"]
                and versions == t["versions_digest"]
                and dict(counts) == {
                    "tasks": t["tasks"], "task_tags": t["task_tags"],
                    "task_memberships": t["task_memberships"],
                    "task_custom_fields": t["task_custom_fields"]}
            )
        return ok

    def after_pass(self, pass_id: int) -> dict[str, float]:
        from probes import dir_files_bytes

        base = self._pass_dir(pass_id)
        files, written = dir_files_bytes(base) if os.path.isdir(base) else (0, 0)
        ingested = sum(r["bytes"] for r in self.manifest["rounds"])
        shutil.rmtree(base, ignore_errors=True)
        return {"files_written": files, "bytes_written": written,
                "write_amp": written / ingested}

    def close(self) -> None:
        shutil.rmtree(os.path.join(self.dir, "passes"), ignore_errors=True)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (Analytics, AsanaSync)
}
