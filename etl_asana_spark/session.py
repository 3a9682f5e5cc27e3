"""SparkSession factory and session-level configuration.

Why these configs (SURVEY.md §1.2, §4, memory of probe sessions):

- ``spark.sql.session.timeZone=UTC`` — the testdata timestamps are UTC
  instants; DuckDB (the correctness oracle) is timezone-naive-UTC. Pinning the
  session TZ makes Spark↔DuckDB timestamp parity exact.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.parquet`` stores
  ``ts`` as physical INT64 TIMESTAMP(NANOS); Spark 4 raises
  ``PARQUET_TYPE_ILLEGAL`` without this flag. With it, ``ts`` arrives as a
  LongType of nanoseconds; the registry converts to a real timestamp once
  (see ``registry.load_tables``).
- AQE on (+ skew-join handling) — at the 100 TB design point, runtime
  re-planning from shuffle statistics (coalescing post-shuffle partitions,
  splitting skewed partitions, demoting to broadcast when a side turns out
  small) is the first line of defense; it costs nothing at test scale.
- Arrow on — every pandas interchange (createDataFrame/toPandas, pandas UDFs,
  applyInPandas/mapInPandas) moves via Arrow columnar batches instead of
  pickled rows.
- ``spark.sql.codegen.cache.maxEntries=1000`` (static, builder only) — the
  JVM keeps compiled whole-stage-codegen classes in an LRU cache of Spark's
  default 100 entries. One ``perfbench`` ``analytics`` pass needs ~133
  distinct classes (curate_corpus 55, q_dedup_minhash 39, q_join_star 13,
  q_win_topk_group 8, ...) and visits them in the same cyclic order every
  pass, so at 100 every lookup misses and each pass recompiles all of them
  (~9 ms of Janino each, plus fresh JIT work). 1000 holds that working set
  with ~7x headroom; ``plans.metrics.codegen_stats`` counts the compiles.
  A session the engine did not build keeps Spark's 100: a static conf
  cannot be set on a running session, so ``ensure_engine_confs`` cannot
  apply it.
- A class-data-sharing archive (``-XX:SharedArchiveFile``), only when the
  engine launches the JVM — a session the driver hands over, or a gateway
  already up, is left alone, as ``codegen.cache.maxEntries`` is. Every
  start otherwise parses and verifies ~23 k Spark classes from the jars;
  JDK 17's dynamic CDS maps them, already parsed, from one file.
  ``build_session`` fell from 9.2–10.2 s to 4.4–4.6 s on a shared 4-vCPU
  host, and the first ``q_join_star`` from 10.4 s to 7.0 s.

  - The archive lives in a per-user cache, ``$XDG_CACHE_HOME/
    etl_asana_spark/cds/`` (``~/.cache/...`` when unset), not under the
    scratch base or ``TMPDIR``: a run that dumps it sets up ~5 s slower,
    so it must outlive the run. Its name carries a key — the JDK's
    ``release`` file and the names, sizes and mtimes of
    ``$SPARK_HOME/jars`` — and its byte size; archives of other keys are
    deleted.
  - With no archive, and no other live process dumping one, the JVM
    dumps one at exit (``-XX:ArchiveClassesAtExit``) to a name carrying
    the Python pid, which an empty file claims from the launch on; the
    interpreter waits for the dump at exit. A later start promotes the dump
    (``os.replace``) once that pid has gone and the file opens with the
    dynamic-archive magic. The JVM writes the header last, so a killed
    dump never carries the magic; the size in the name catches a
    truncated archive, which JDK 17 would map and die on (SIGBUS).
  - The dump refuses a non-empty directory on the classpath, and Spark
    puts ``$SPARK_CONF_DIR`` there. When that directory holds only
    ``*.template`` files (or does not exist) the launch points
    ``SPARK_CONF_DIR`` at an empty directory of the engine's, which
    Spark reads identically; when it holds a real file, or
    ``HADOOP_CONF_DIR``/``YARN_CONF_DIR`` add directories, no archive is
    used at all.
  - ``-Xlog:cds=off,cds+dynamic=off``: the JVM ignores an archive that
    does not match its classpath and says so on stdout. A stale archive
    costs start-up time and never changes a result.
  - The flags travel in ``spark.driver.defaultJavaOptions``, so a
    caller's ``spark.driver.extraJavaOptions`` adds to them rather than
    replacing them.
- ``PYTHONPATH`` in the context's worker environment
  (``SparkContext.environment``) names the directory that holds this
  package, so Python workers import ``etl_asana_spark`` whatever the
  driver's working directory. The environment travels with every Python
  function Spark already ships, and workers are pooled per environment,
  so it costs nothing per task. Without it a worker found the package only
  when the driver ran from the repo root.

The driver may hand us an already-built session; ``ensure_engine_confs``
applies the runtime-settable subset to any session, so engine code never
depends on who constructed the session.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .fsutil import volume_partitions

#: SQL confs that are runtime-settable (safe on a session we didn't build).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown/pruning are on by default; stated here as contract.
    "spark.sql.parquet.filterPushdown": "true",
    # Python DataSource filter pushdown (sources/datasource.py): lets a
    # custom source turn Spark predicates into API-side query params.
    "spark.sql.python.filterPushdown.enabled": "true",
    # ANSI mode is the Spark 4 default; engine code uses try_* on any
    # fallible cast/arithmetic rather than disabling ANSI (SURVEY §7 hard-part 3).
}


#: The directory holding the ``etl_asana_spark`` package, for the workers'
#: ``PYTHONPATH``.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_path(spark: SparkSession) -> None:
    """Put :data:`_PACKAGE_ROOT` on the Python workers' ``PYTHONPATH``."""
    try:
        env = spark.sparkContext.environment
    except Exception:
        return  # no local SparkContext (Spark Connect)
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session."""
    _ensure_worker_path(spark)
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be static in exotic deployments; engine code only
            # hard-requires nanosAsLong + timeZone, both dynamic in Spark 4.
            pass
    try:
        # If the caller left Spark's stock 200 shuffle partitions, right-size
        # to the machine: at test scale 200 tiny partitions is scheduling
        # overhead; on a cluster an operator sets this (or AQE coalesces).
        # An explicit non-default caller value is respected. The value is
        # the NORMALIZED core count (r10 review: setting the raw env string
        # left e.g. SPARK_GRAFT_CPUS='08' as conf '08', which the
        # volume-sizer's engine-set allowlist then mistook for an
        # operator-pinned value, permanently disabling auto-sizing).
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(_base_parallelism())
            )
    except Exception:
        pass
    return spark


def _base_parallelism() -> int:
    """The engine's core-count shuffle default (what ensure_engine_confs
    replaces the stock 200 with)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        return int(cpus) if cpus else (os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


#: Runtime conf tagging the shuffle-partition value the ENGINE auto-set, so
#: a later right-size can tell "we set this" from "the operator pinned it".
_AUTO_SHUFFLE_TAG = "spark.etl_asana_spark.autoShufflePartitions"

#: Compressed input bytes per shuffle partition: a 64 MiB in-memory target
#: over an ~8× parquet-compressed → in-memory-row expansion (snappy parquet
#: on numeric-heavy columns decompresses/deserializes ~5-10×; 8 is the
#: middle). 64 MiB in memory leaves sort/agg headroom inside a per-task
#: memory share (e.g. 8 GiB heap × 0.6 / 32 concurrent tasks ≈ 150 MiB);
#: the r09 100× rehearsal showed the failure mode this prevents —
#: q_win_topk_group's per-partition window sort at a FIXED 32 partitions
#: spilled into a 47.6× multiplier, while 8×cores partitions ran 0.40× of
#: it. AQE coalesces over-split partitions back together, but it can never
#: SPLIT a too-big sort partition upward — so the initial count must scale
#: with input volume.
_SHUFFLE_BYTES_PER_PARTITION = 8 * 1024 * 1024

#: Upper bound, as a multiple of the core count, on what auto-sizing will
#: set (scheduling overhead bound at local scale; on a real cluster cores
#: grows with the fleet, so the cap scales with it).
_SHUFFLE_CAP_X = 16


def right_size_shuffle_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Scale ``spark.sql.shuffle.partitions`` with estimated input volume.

    ``clamp(ceil(input_bytes ÷ 8 MiB), cores, cores × 16)`` via
    ``fsutil.volume_partitions``. Only adjusts a value the engine itself
    set (the core-count default ensure_engine_confs substitutes for the
    stock 200, or a previous auto-set value — the latter remembered in a
    tag conf); an explicit operator-pinned count is respected untouched,
    so substrate sweeps (SWEEP_SHUFFLE=7) and cluster operators keep full
    control. One
    inherent ambiguity (r10 review): an operator pinning EXACTLY the core
    count is indistinguishable from the engine default and will be
    auto-scaled — pin any other value to opt out. Returns the effective
    partition count.

    At the shipped scale factors (sf0.001–sf0.1, ≤ ~18 MB parquet) the
    formula stays at the core-count floor — plans and timings there are
    unchanged; the rule engages exactly where the r09 100× rehearsal
    demonstrated fixed-count sort spill (SURVEY §8)."""
    try:
        cur = spark.conf.get("spark.sql.shuffle.partitions")
        base = _base_parallelism()
        tag = None
        try:
            tag = spark.conf.get(_AUTO_SHUFFLE_TAG)
        except Exception:
            pass
        # "200" is NOT in the allowlist: ensure_engine_confs (always run
        # first by load_tables) owns the stock-200 substitution, so a 200
        # seen here is an explicit caller choice on a session the engine
        # never touched — respect it (r10 review).
        if cur != str(base) and cur != tag:
            return int(cur)
        want = volume_partitions(
            input_bytes, _SHUFFLE_BYTES_PER_PARTITION,
            base, base * _SHUFFLE_CAP_X, base,
        )
        if str(want) != cur:
            spark.conf.set("spark.sql.shuffle.partitions", str(want))
        spark.conf.set(_AUTO_SHUFFLE_TAG, str(want))
        return want
    except Exception:
        return -1


#: First four bytes of a JDK dynamic class-data-sharing archive.
_CDS_MAGIC = 0xF00BABA8

#: Keeps the JVM from printing that it ignored a mismatched archive.
_CDS_QUIET = "-Xlog:cds=off,cds+dynamic=off"

#: Seconds the interpreter waits at exit for its JVM to write a dump.
_CDS_DUMP_WAIT_S = 120


def _cds_key(spark_home: str) -> str:
    """Hash of what an archive is valid for: the JDK's ``release`` file and
    the launched jars' names, sizes and mtimes."""
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java")))
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _cds_complete(path: str) -> bool:
    """Whether ``path`` opens with the archive magic the JVM writes last."""
    try:
        with open(path, "rb") as f:
            return int.from_bytes(f.read(4), "little") == _CDS_MAGIC
    except OSError:
        return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        pass  # alive, another user's
    return True


def _cds_archive(cache: str, key: str) -> tuple[str | None, bool]:
    """``(archive, dumping)``: the archive for ``key`` in ``cache`` or None,
    and whether a live process is dumping one.

    Archives are ``<key>.<size>.jsa``; dumps, claimed, being written or
    finished, are ``<key>.<pid>.dump``. A finished dump (its writer gone, the magic in
    place) is promoted to an archive when none is valid. Every other
    archive or dump — another key, a wrong size or magic, a spare — is
    deleted, except a dump whose writer still runs."""
    found, dumping = None, False
    entries = [n.split(".") for n in os.listdir(cache)]
    # archives before dumps, so a valid archive wins over a finished dump
    for k, num, kind in sorted((e for e in entries if len(e) == 3),
                               key=lambda e: e[2] != "jsa"):
        if kind not in ("jsa", "dump") or not num.isdigit():
            continue
        path = os.path.join(cache, f"{k}.{num}.{kind}")
        if k == key and kind == "dump" and _pid_alive(int(num)):
            dumping = True
            continue
        try:
            if found is None and k == key and _cds_complete(path):
                size = os.path.getsize(path)
                if kind == "dump":
                    found = os.path.join(cache, f"{key}.{size}.jsa")
                    os.replace(path, found)
                    continue
                if size == int(num):
                    found = path
                    continue
            os.remove(path)
        except OSError:
            pass  # another start got there first
    return found, dumping


def _wait_for_jvm() -> None:
    """At exit: stop the context, close the JVM's stdin and wait while the
    JVM writes its dump. (Stopping first keeps the accumulator server from
    reporting the JVM's disconnect.)"""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(Exception):
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=_CDS_DUMP_WAIT_S)


def _cds_launch() -> tuple[str, str] | None:
    """``(java options, SPARK_CONF_DIR for the launch)`` that give the JVM
    about to start a class-data-sharing archive; None when no archive can
    be used (see "Why these configs")."""
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if os.path.isdir(conf_dir) and any(
                not n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        cache = os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.join(
            os.path.expanduser("~"), ".cache"), "etl_asana_spark", "cds")
        empty_conf = os.path.join(cache, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        key = _cds_key(spark_home)
        archive, dumping = _cds_archive(cache, key)
        if archive is not None:
            flag = f"-XX:SharedArchiveFile={archive}"
        elif dumping:  # one dump per key at a time: a dump run sets up ~5 s slower
            return None
        else:
            dump = os.path.join(cache, f"{key}.{os.getpid()}.dump")
            # The JVM creates the dump only at exit; until then this empty
            # file claims the key for this process.
            open(dump, "wb").close()
            flag = f"-XX:ArchiveClassesAtExit={dump}"
            atexit.register(_wait_for_jvm)
    except (OSError, SystemExit):  # SystemExit: no SPARK_HOME found
        return None
    return f"{flag} {_CDS_QUIET}", empty_conf


@contextlib.contextmanager
def _launch_env(conf_dir: str):
    """Point ``SPARK_CONF_DIR`` at ``conf_dir`` while the JVM launches."""
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if before is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = before


def build_session(
    app_name: str = "etl_asana_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so tests and bench share one code path. On a real cluster
    the caller passes no master and spark-submit decides.

    ``shuffle_partitions`` defaults to the core count in local mode — at
    sf0.1-scale data a 200-partition shuffle is pure scheduling overhead; on
    a 1000-executor cluster the operator would instead size this to
    ~2-3× total cores (or rely on AQE coalescing from a high initial value).

    When no JVM is up yet, the one this call launches maps the engine's
    class-data-sharing archive (see "Why these configs").
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    if shuffle_partitions is None:
        shuffle_partitions = _base_parallelism()
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.sql.codegen.cache.maxEntries", "1000")
    confs = dict(extra_confs or {})
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds = _cds_launch()
    if cds is not None:
        key = "spark.driver.defaultJavaOptions"
        confs[key] = f"{cds[0]} {confs.get(key, '')}".strip()
    for key, value in confs.items():
        builder = builder.config(key, value)
    with _launch_env(cds[1]) if cds else contextlib.nullcontext():
        spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session: re-assert runtime confs.
    return ensure_engine_confs(spark)
