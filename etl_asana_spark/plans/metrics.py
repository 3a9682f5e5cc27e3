"""Post-execution metrics: what a query ACTUALLY moved, not what the plan
promised.

``plans.summarize`` pins plan SHAPE (broadcasts, pushdown, exchange count);
this module reads the executed plan's SQL metrics — rows scanned, shuffle
records/bytes written, spill — so tests and operators can assert the scale
properties numerically: "the groupBy shuffled 25 records, not 600 000"
is map-side combine, measured. This is the same data the Spark UI's SQL tab
shows, surfaced as a dict.

AQE wrapping: after execution the root is AdaptiveSparkPlanExec and each
materialized stage hides behind *QueryStage nodes; the walker descends
through both so callers see the REAL final operators.

``codegen_stats`` reads the JVM-wide generated-code compile counter, so a
caller can difference two reads into "classes compiled by this call".
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class ExecutionMetrics:
    rows_scanned: int = 0
    shuffle_records: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    broadcast_bytes: int = 0
    output_rows: int | None = None
    nodes: list[tuple[str, dict]] = field(default_factory=list)


def _walk(node, out: list) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        _walk(node.executedPlan(), out)
        return
    if "QueryStage" in name:
        _walk(node.plan(), out)
        return
    it = node.metrics().iterator()
    mets = {}
    while it.hasNext():
        kv = it.next()
        mets[kv._1()] = kv._2().value()
    out.append((name, mets))
    for i in range(node.children().length()):
        _walk(node.children().apply(i), out)


def execution_metrics(df: DataFrame) -> ExecutionMetrics:
    """Execute ``df`` (collect) and aggregate its plan's SQL metrics."""
    df.collect()
    nodes: list[tuple[str, dict]] = []
    _walk(df._jdf.queryExecution().executedPlan(), nodes)
    m = ExecutionMetrics(nodes=nodes)
    for name, mets in nodes:
        if name.startswith("Scan"):
            m.rows_scanned += int(mets.get("numOutputRows", 0))
        if name == "Exchange":
            m.shuffle_records += int(mets.get("shuffleRecordsWritten", 0))
            m.shuffle_bytes += int(mets.get("shuffleBytesWritten", 0))
        if name == "BroadcastExchange":
            m.broadcast_bytes += int(mets.get("dataSize", 0))
        m.spill_bytes += int(mets.get("spillSize", 0))
    if nodes and m.output_rows is None:
        top = next(
            (mm for nn, mm in nodes if "numOutputRows" in mm), None
        )
        if top is not None:
            m.output_rows = int(top["numOutputRows"])
    return m


@dataclass(frozen=True)
class CodegenStats:
    compiles: int
    compile_ms: int


def codegen_stats(spark: SparkSession) -> CodegenStats:
    """Spark's own Janino compile counter for this JVM (``CodegenMetrics``).

    ``compiles`` counts every generated class compiled since the JVM started
    (a codegen-cache hit does not count). ``compile_ms`` sums the histogram
    snapshot, which samples at most 1028 compiles: it is the exact total
    only while ``compiles`` is at most 1028."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    ms = spark._jvm.java.util.Arrays.stream(hist.getSnapshot().getValues()).sum()
    return CodegenStats(compiles=int(hist.getCount()), compile_ms=int(ms))
