"""Benchmark command: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytics --seed 7 --seconds 10 --trace 0

Generates the workload's inputs from the seed (cached per seed under
``.perfbench/cache`` in the checkout), sets up (starts the engine and runs
``WARMUP_PASSES`` untimed warm-up passes), then runs whole passes over the
workload's items, each item starting when the previous one finishes, until
``--seconds`` of pass time and at least ``MIN_PASSES`` passes are measured.
``--seconds`` is the run length that ``BENCHMARK.json`` fixes
(``run_seconds``); pass it unchanged so runs compare. Every output is
checked after the clock stops.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics; with ``--trace 1`` they are the per-layer metrics of a
separate traced run (spans, Spark job groups, the status store and the
executed plans). The line before it carries the run's context: the
throughput (``records_per_s``, which host contention moves too much to be
an end-to-end metric), input sizes, generation time, load average, sample
counts, and the layer metrics that only some workloads exercise.

Exit code 0 on a completed run; 2 when the engine is not importable from
the checkout (nothing is printed on stdout then).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Untimed passes that end set-up: the first compiles and fills the memos,
#: the second lets the JIT compiler work off much of what the first queued.
WARMUP_PASSES = 2
#: Passes a run measures at least. Host contention and JIT or GC bursts
#: slow some passes and never speed one up, so a run reports the best of
#: this many: the least CPU of a pass, and each item's fastest execution.
MIN_PASSES = 3
#: Percentiles item_s_tail may report, highest first.
TAIL_LADDER = (99, 95, 90, 75, 50)
CURATION_STAGES = ("raw", "quality", "exact_dedup", "fuzzy_dedup_build",
                   "fuzzy_dedup", "decontaminated", "curated")
#: Spans whose self time the traced run reports.
SPAN_NAMES = ("item", "queries.construct", "spark.action",
              "streaming.drain",
              "pipelines.curate_build", "pipelines.curate_action",
              "pipelines.etl_construct", "pipelines.etl_write",
              "sources.read_back", "sources.store_write")

E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
}

#: Per-layer metrics every workload reports (BENCHMARK.json ``per_layer``).
#: Times here are non-zero on every workload.
LAYER_UNITS = {
    "session.build_s": "s",
    "session.shuffle_partitions": "count",
    "registry.load_tables_s": "s",
    "registry.load_tables_cached_s": "s",
    "queries.construct_s": "s",
    "queries.construct_share": "ratio",
    "queries.construct_jobs": "count",
    "queries.construct_py4j_calls": "count",
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.stage.count": "count",
    "spark.stage.tasks": "count",
    "spark.stage.run_s": "s",
    "spark.stage.cpu_s": "s",
    "spark.stage.gc_s": "s",
    "spark.stage.failed_tasks": "count",
    "spark.stage.core_util": "ratio",
    "spark.stage.wait_s": "s",
    "spark.stage.shuffle_write_mb": "MB",
    "spark.stage.shuffle_read_mb": "MB",
    "spark.stage.spill_mb": "MB",
    "plans.rows_scanned": "count",
    "plans.exchanges": "count",
    "plans.broadcast_mb": "MB",
    "plans.out_per_scanned": "ratio",
    "operators.python_nodes": "count",
    "operators.python_mb_sent": "MB",
    "operators.python_mb_received": "MB",
    "operators.pair_yield": "ratio",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_amp": "ratio",
    "streaming.drains": "count",
    "streaming.drain_share": "ratio",
    "spark.action.wall_s": "s",
    "spark.action.result_rows": "count",
    "self.item_s": "s",
    "self.queries.construct_s": "s",
    "self.spark.action_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
}

#: Layer times that only some workloads exercise (zero elsewhere). They go
#: on the context line, under ``layers``, so no reported time is a constant.
WORKLOAD_LAYER_UNITS = {
    "operators.python_total_s": "s",
    "operators.python_boot_s": "s",
    "pipelines.curate_build_s": "s",
    "pipelines.curate_action_s": "s",
    **{f"pipelines.stage_{s}_s": "s" for s in CURATION_STAGES},
    "pipelines.etl_construct_s": "s",
    "pipelines.etl_write_s": "s",
    "sources.store_write_s": "s",
    "sources.read_back_s": "s",
    "streaming.start_s": "s",
    "streaming.await_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms",
    **{f"self.{s}_s": "s" for s in SPAN_NAMES
       if s not in ("item", "queries.construct", "spark.action")},
}

#: LAST_DRAIN_STATS ``last_batch_ms`` keys, by the metric they feed.
DRAIN_PHASES = {"add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
                "commit_offsets_ms": "commitOffsets",
                "query_planning_ms": "queryPlanning"}


@dataclass
class Execution:
    """One item execution: timings, output, and traced readings."""

    key: str
    construct_s: float = 0.0
    action_s: float = 0.0
    error: str | None = None
    output: object = None
    digest: object = None
    #: the constructed plan, kept until the traced pass's clock stops
    handle: object = None
    drain: dict = field(default_factory=dict)
    groups: tuple[str, str] = ("", "")
    epochs: tuple[float, float, float] = (0.0, 0.0, 0.0)
    py4j_calls: int = 0
    plan: object = None
    phases: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.construct_s + self.action_s


class Runner:
    def __init__(self, workload, seed: int, traced: bool, tmp: str) -> None:
        from probes import Tracer

        self.wl = workload
        self.tmp = tmp
        self.tracer = Tracer(enabled=traced)
        self.untraced = Tracer(enabled=False)
        self.spark = None
        self.counter = None
        self.n_pass = 0
        order = list(range(len(workload.item_keys())))
        random.Random(seed).shuffle(order)
        self.order = order

    # -- session -----------------------------------------------------------

    def setup(self) -> float:
        """Build the session (starting the JVM), register the tables and
        run the untimed warm-up passes (compilation, file listing, memo
        fills); return the wall time of all of it."""
        from etl_asana_spark.session import build_session

        t0 = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = build_session(
                app_name=f"perfbench-{self.wl.name}",
                extra_confs={
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("registry.load_tables"):
            self.wl.load(self.spark)
        with self.tracer.span("registry.load_tables_cached"):
            self.wl.load(self.spark)
        self.shuffle_partitions = int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))
        for _ in range(WARMUP_PASSES):
            self.run_pass(warmup=True)
            self.wl.after_pass(self.n_pass)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.counter is not None:
            self.counter.close()
        stop_engine(self.spark)

    # -- passes ------------------------------------------------------------

    def run_pass(self, warmup: bool = False, traced: bool = False) -> tuple[float, list[Execution]]:
        self.n_pass += 1
        tracer = self.tracer if traced else self.untraced
        items = self.wl.items(self.spark, tracer, self.order, self.n_pass)
        execs = []
        t0 = time.perf_counter()
        for idx, item in enumerate(items):
            execs.append(self.run_item(item, idx, traced))
        wall = time.perf_counter() - t0
        if traced:  # after the clock: the outputs the check needs
            self.spark.sparkContext.setJobGroup("check", "correctness")
            for item, e in zip(items, execs):
                if e.handle is not None:
                    try:
                        e.output = item.action(e.handle)
                    except Exception:  # noqa: BLE001 - a failed item
                        e.error = traceback.format_exc()
                    e.handle = None
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        for e in execs:  # after the clock: reduce outputs to digests
            if e.error is None and not warmup:
                try:
                    e.digest = self.wl.digest(e.key, e.output)
                except Exception:  # noqa: BLE001 - a bad output is a failed item
                    e.error = traceback.format_exc()
            if e.digest is None or warmup:
                e.output = None
        return wall, execs

    def run_item(self, item, idx: int, traced: bool) -> Execution:
        from etl_asana_spark.plans.metrics import execution_metrics
        from etl_asana_spark.streaming.jobs import LAST_DRAIN_STATS

        from probes import catalyst_phases_ms, read_plan

        ex = Execution(item.key)
        sc = self.spark.sparkContext
        span = self.tracer.span if traced else (lambda *a, **k: nullcontext())
        group = f"p{self.n_pass}:{idx}:{item.key}"
        ex.groups = (group + ":construct", group + ":action")
        try:
            with span("item", item.key):
                if traced:
                    sc.setJobGroup(ex.groups[0], item.key)
                    LAST_DRAIN_STATS.clear()
                e0 = time.time()
                t0 = time.perf_counter()
                with span("queries.construct", item.key):
                    layer = span(item.construct_layer, item.key) if item.construct_layer else nullcontext()
                    with layer, (self.counter.counting() if traced else nullcontext()):
                        handle = item.construct()
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(ex.groups[1], item.key)
                e1 = time.time()
                t1b = time.perf_counter()
                with span("spark.action", item.key):
                    layer = span(item.action_layer, item.key) if item.action_layer else nullcontext()
                    with layer:
                        if traced and item.traced_df is not None:
                            df = item.traced_df(handle)
                            metrics = execution_metrics(df)
                        else:
                            ex.output = item.action(handle)
                t2 = time.perf_counter()
                e2 = time.time()
            ex.construct_s, ex.action_s = t1 - t0, t2 - t1b
            ex.epochs = (e0, e1, e2)
            if traced:
                ex.py4j_calls = self.counter.counted
                if item.construct_layer == "streaming.drain":
                    ex.drain = dict(LAST_DRAIN_STATS)
                if item.traced_df is not None:
                    ex.plan = read_plan(metrics)
                    ex.phases = catalyst_phases_ms(df)
                    ex.handle = handle
        except Exception:  # noqa: BLE001 - one failed item must not end the run
            ex.error = traceback.format_exc()
            print(f"item {item.key} failed:\n{ex.error}", file=sys.stderr)
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return ex


def stop_engine(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(samples: list[float]) -> tuple[int, float]:
    """(percentile, value): the highest ladder percentile with at least ten
    samples beyond it (the median when there are fewer than 20 samples)."""
    n = len(samples)
    pct = next((p for p in TAIL_LADDER if n * (100 - p) / 100 >= 10), 50)
    qs = statistics.quantiles(samples, n=100, method="inclusive") if n > 1 else samples * 99
    return pct, qs[pct - 1]


def check(runner: Runner, execs: list[Execution]) -> int:
    """Verify every distinct output; return the number of failed executions."""
    outputs = {(e.key, e.digest): e.output for e in execs if e.error is None}
    try:
        ok = runner.wl.verify(runner.spark, outputs)
    except Exception:  # noqa: BLE001 - a checker crash fails every output
        print(traceback.format_exc(), file=sys.stderr)
        ok = {}
    bad = 0
    for e in execs:
        if e.error is not None or not ok.get((e.key, e.digest), False):
            bad += 1
            if e.error is None:
                print(f"item {e.key}: output failed the check", file=sys.stderr)
    return bad


def measure(runner: Runner, seconds: float, traced: bool) -> tuple[list[float], list[float], list[float], list[Execution], list[dict]]:
    """Whole passes until ``seconds`` of pass time and ``MIN_PASSES`` passes
    are measured: per pass wall, CPU and host steal seconds, the executions
    and filesystem readings."""
    from probes import cpu_seconds, steal_seconds

    walls, cpus, steals, execs, fs = [], [], [], [], []
    while len(walls) < MIN_PASSES or sum(walls) < seconds:
        c0, s0 = cpu_seconds(), steal_seconds()
        wall, ex = runner.run_pass(traced=traced)
        cpus.append(cpu_seconds() - c0)
        steals.append(steal_seconds() - s0)
        walls.append(wall)
        execs.extend(ex)
        fs.append(runner.wl.after_pass(runner.n_pass))
    return walls, cpus, steals, execs, fs


def best_pass_s(runner: Runner, execs: list[Execution]) -> float:
    """A pass made of each item's fastest successful execution."""
    return sum(min(e.wall for e in execs if e.key == k and e.error is None)
               for k in runner.wl.item_keys()
               if any(e.key == k and e.error is None for e in execs))


def e2e_run(runner: Runner, seconds: float, context: dict) -> tuple[dict, int, int]:
    from probes import jvm_pid, peak_rss_mb

    setup_s = runner.setup()
    walls, cpus, steals, execs, fs = measure(runner, seconds, traced=False)
    times = [e.wall for e in execs if e.error is None]
    pct, tail_s = tail(times) if times else (50, 0.0)
    t0 = time.perf_counter()
    failed = check(runner, execs)
    context["check_s"] = time.perf_counter() - t0
    best = best_pass_s(runner, execs)
    metrics = {"setup_s": setup_s, "cpu_s": min(cpus)}
    context.update({
        "pass_s": walls, "pass_cpu_s": cpus,
        "best_pass_s": best,
        "records_per_s": runner.wl.records / best,
        "pass_steal_s": steals,
        "item_samples": len(times),
        "item_s_p50": statistics.median(times) if times else 0.0,
        "item_s_tail": tail_s,
        "item_s_tail_percentile": pct,
        "failed_frac": failed / max(1, len(execs)),
        "peak_rss_mb": peak_rss_mb(jvm_pid()),
        "per_item_s": {k: statistics.median([e.wall for e in execs if e.key == k and e.error is None] or [0.0])
                       for k in runner.wl.item_keys()},
    })
    if fs and fs[0]:
        context["write_amp"] = statistics.median(f["write_amp"] for f in fs)
    return ({k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
            len(execs), failed)


def traced_run(runner: Runner, seconds: float, context: dict, spans_path: str) -> tuple[dict, int, int]:
    from probes import Py4jCounter, jvm_pid, peak_rss_mb, stages_by_group, uncovered

    runner.setup()
    runner.counter = Py4jCounter(runner.spark)
    # untraced and traced halves give the tracing overhead
    plain_walls, _, _, plain_execs, _ = measure(runner, seconds, traced=False)
    walls, _, steals, execs, fs = measure(runner, seconds, traced=True)
    n = len(walls)
    groups = stages_by_group(runner.spark)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = dict.fromkeys([*LAYER_UNITS, *WORKLOAD_LAYER_UNITS], 0.0)
    totals = runner.tracer.totals()
    selfs = runner.tracer.self_times()
    setup_spans = {s.name: s.end - s.start for s in runner.tracer.spans
                   if s.name in ("session.build", "registry.load_tables",
                                 "registry.load_tables_cached")}
    m["session.build_s"] = setup_spans.get("session.build", 0.0)
    m["registry.load_tables_s"] = setup_spans.get("registry.load_tables", 0.0)
    m["registry.load_tables_cached_s"] = setup_spans.get("registry.load_tables_cached", 0.0)
    m["session.shuffle_partitions"] = runner.shuffle_partitions

    phase_wall = run_s = 0.0
    dedup_out = dedup_cand = out_rows = 0
    ok_execs = [e for e in execs if e.error is None]
    for e in ok_execs:
        c = groups.get(e.groups[0])
        m["queries.construct_s"] += e.construct_s
        m["queries.construct_jobs"] += c.jobs if c else 0
        m["queries.construct_py4j_calls"] += e.py4j_calls
        m["spark.action.wall_s"] += e.action_s
        for phase, (lo, hi) in zip(e.groups, ((e.epochs[0], e.epochs[1]), (e.epochs[1], e.epochs[2]))):
            st = groups.get(phase)
            phase_wall += hi - lo
            if st is None:
                m["spark.stage.wait_s"] += hi - lo
                continue
            m["spark.stage.count"] += st.stages
            m["spark.stage.tasks"] += st.tasks
            m["spark.stage.run_s"] += st.run_s
            m["spark.stage.cpu_s"] += st.cpu_s
            m["spark.stage.gc_s"] += st.gc_s
            m["spark.stage.failed_tasks"] += st.failed_tasks
            m["spark.stage.shuffle_write_mb"] += st.shuffle_write_mb
            m["spark.stage.shuffle_read_mb"] += st.shuffle_read_mb
            m["spark.stage.spill_mb"] += st.spill_mb
            m["spark.stage.wait_s"] += uncovered(lo, hi, st.intervals)
            run_s += st.run_s
        for k, v in e.phases.items():
            m[f"spark.catalyst.{k}_ms"] += v
        if e.drain:
            m["streaming.drains"] += 1
            m["streaming.start_s"] += e.drain["start_s"]
            m["streaming.await_s"] += e.drain["await_s"]
            for k, phase in DRAIN_PHASES.items():
                m[f"streaming.{k}"] += e.drain["last_batch_ms"].get(phase, 0)
        p = e.plan
        if p is not None:
            m["plans.rows_scanned"] += p.rows_scanned
            m["plans.exchanges"] += p.exchanges
            m["plans.broadcast_mb"] += p.broadcast_mb
            m["operators.python_nodes"] += p.python_nodes
            m["operators.python_total_s"] += p.python_total_s
            m["operators.python_boot_s"] += p.python_boot_s
            m["operators.python_mb_sent"] += p.python_mb_sent
            m["operators.python_mb_received"] += p.python_mb_received
            m["spark.action.result_rows"] += p.output_rows
            out_rows += p.output_rows
            if "dedup" in e.key:
                dedup_out += p.output_rows
                dedup_cand += p.join_rows_max
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = selfs.get(name, 0.0)
    for name in ("pipelines.curate_build", "pipelines.curate_action",
                 "pipelines.etl_construct", "pipelines.etl_write",
                 "sources.store_write", "sources.read_back"):
        m[f"{name}_s"] = totals.get(name, 0.0)
    for f in fs:
        m["sources.files_written"] += f.get("files_written", 0)
        m["sources.bytes_written"] += f.get("bytes_written", 0)
    # everything above is per pass
    for k in m:
        if k.startswith(("queries.", "spark.", "plans.", "operators.", "self.",
                         "pipelines.", "sources.", "streaming.")):
            m[k] /= n
    m["queries.construct_share"] = (
        m["queries.construct_s"] / (m["queries.construct_s"] + m["spark.action.wall_s"])
        if m["spark.action.wall_s"] else 0.0)
    m["spark.stage.core_util"] = run_s / (phase_wall * cores) if phase_wall else 0.0
    m["plans.out_per_scanned"] = out_rows / m["plans.rows_scanned"] / n if m["plans.rows_scanned"] else 0.0
    m["operators.pair_yield"] = dedup_out / dedup_cand if dedup_cand else 0.0
    m["streaming.drain_share"] = totals.get("streaming.drain", 0.0) / totals["item"]
    m["sources.write_amp"] = statistics.median(f["write_amp"] for f in fs) if fs[0] else 0.0
    m["trace.untraced_pass_s"] = statistics.median(plain_walls)
    m["trace.traced_pass_s"] = statistics.median(walls)
    m["trace.overhead_s"] = m["trace.traced_pass_s"] - m["trace.untraced_pass_s"]
    if runner.wl.name == "analytics":
        m.update(curation_stages(runner))
    m["process.peak_rss_mb"] = peak_rss_mb(jvm_pid())
    runner.tracer.dump(spans_path)
    all_execs = plain_execs + execs
    failed = check(runner, all_execs)
    # per item: how much of its wall time is construction, and which
    # Python-worker nodes its executed plan holds
    per_item = {}
    for e in ok_execs:
        d = per_item.setdefault(e.key, {"construct_s": 0.0, "wall_s": 0.0})
        d["construct_s"] += e.construct_s
        d["wall_s"] += e.wall
        d["python_nodes"] = e.plan.python_nodes if e.plan is not None else 0
    context.update({"traced_passes": n, "untraced_passes": len(plain_walls),
                    "pass_steal_s": steals,
                    "per_item": {k: {"construct_share": d["construct_s"] / d["wall_s"],
                                     "python_nodes": d["python_nodes"]}
                                 for k, d in per_item.items()},
                    "spans": len(runner.tracer.spans), "spans_file": spans_path,
                    "layers": {k: {"value": m[k], "unit": u}
                               for k, u in WORKLOAD_LAYER_UNITS.items()}})
    return ({k: {"value": m[k], "unit": u} for k, u in LAYER_UNITS.items()},
            len(all_execs), failed)


def curation_stages(runner: Runner) -> dict[str, float]:
    """One ``count_funnel=True`` curation: per-stage materialization time."""
    from etl_asana_spark import pipelines
    from etl_asana_spark.registry import load_tables

    docs = load_tables(runner.spark, runner.wl.dir)["documents"]
    res = pipelines.curate_corpus(docs, count_funnel=True)
    return {f"pipelines.stage_{k}_s": float(v) for k, v in (res.stage_seconds or {}).items()
            if f"pipelines.stage_{k}_s" in WORKLOAD_LAYER_UNITS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import etl_asana_spark.pipelines  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # streaming checkpoints default to /dev/shm; keep them in the checkout
    os.environ["SPARK_GRAFT_SCRATCH_BASE"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    generated = wl.prepare(os.path.join(work, "cache"), args.seed)
    runner = Runner(wl, args.seed, bool(args.trace), tmp)
    context = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
               "nproc": cpus, "gen_s": time.perf_counter() - t0,
               "gen_cached": not generated, "sizes": wl.manifest["sizes"],
               "records": wl.records,
               "items": [wl.item_keys()[i] for i in runner.order],
               "loadavg_before": os.getloadavg()}
    try:
        if args.trace:
            spans = os.path.join(work, "spans", f"{wl.name}-{args.seed}.jsonl")
            metrics, attempted, failed = traced_run(runner, args.seconds, context, spans)
        else:
            metrics, attempted, failed = e2e_run(runner, args.seconds, context)
    finally:
        runner.stop()
        wl.close()
        shutil.rmtree(tmp, ignore_errors=True)
    context["loadavg_after"] = os.getloadavg()
    print(json.dumps(context, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
