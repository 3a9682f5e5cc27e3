"""Table maintenance: compaction and schema evolution (R3 operational ops).

Long-running ingestion (the reference's repeated syncs; any streaming sink)
accretes small files — the classic large-table pathology: a 100 TB table in
10 MB files means 10⁷ scan tasks and a crushed file-listing phase. And
upstream APIs add fields over time, so readers must tolerate mixed-schema
parquet directories. Both concerns are pure-Spark mechanics, kept here next
to the sinks they maintain.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..fsutil import volume_partitions
from ..session import ensure_engine_confs

#: Compaction target: bytes of INPUT data per output file. Real deployments
#: aim near the HDFS/parquet sweet spot (128–512 MB); tests shrink it.
DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    out_path: str | None = None,
) -> int:
    """Rewrite a parquet directory into ≈input_size/target_bytes files.

    Returns the output file count. Uses ``coalesce`` (narrow — no shuffle:
    compaction must not pay a network pass just to merge files); writes to
    ``out_path`` (or replaces in place via overwrite). Row content is
    preserved exactly; only the file layout changes.
    """
    ensure_engine_confs(spark)
    df = spark.read.parquet(path)
    total = _input_bytes(spark, path)
    n_files = volume_partitions(total, target_bytes, 1, math.inf, 1)
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path or path)
    return n_files


def _input_bytes(spark: SparkSession, path: str) -> int:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    return fs.getContentSummary(p).getLength()


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files have heterogeneous schemas
    (columns added across sync generations): ``mergeSchema`` unions the
    footers; rows from older files surface NULL for newer columns.

    Scale note: schema merging reads every footer — acceptable per
    directory-partition, not per 10⁷-file table; compact first."""
    ensure_engine_confs(spark)
    return spark.read.option("mergeSchema", "true").parquet(path)
