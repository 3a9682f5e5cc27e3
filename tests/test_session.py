"""Session start-up: the class-data-sharing archive and the workers' path.

Each session test starts its own JVM in a subprocess, since the suite's
shared session already has one. The subprocess gets its own
``XDG_CACHE_HOME``, checks one key against its DuckDB oracle and reports
what the JVM was launched with: the CDS flags among its input arguments,
its ``SPARK_CONF_DIR`` and the ``.jsa`` files it has mapped. Whatever
happens to the archive, the answers must not change, and nothing the JVM
says about CDS may reach stdout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from etl_asana_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import json, os, sys
sys.path.insert(0, {root!r})
{pre}
from etl_asana_spark.session import build_session
from etl_asana_spark.testing import check_query, duckdb_connect
spark = build_session(app_name="session-test")
spark.sparkContext.setLogLevel("ERROR")
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
with open("/proc/%d/maps" % jvm.java.lang.ProcessHandle.current().pid()) as f:
    maps = sorted({{line.split()[-1] for line in f if line.rstrip().endswith(".jsa")}})
print("RESULT " + json.dumps({{
    "problems": check_query(spark, duckdb_connect({sf!r}), {key!r}, {sf!r}),
    "cds": [a for a in args if "Archive" in a or a.startswith("-Xlog:cds")],
    "jvm_conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "maps": maps,
}}))
"""

#: A plain session, built the way a driver builds it before handing it over.
_HANDED_OVER = """
from pyspark.sql import SparkSession
SparkSession.builder.master("local[2]").getOrCreate()
"""


def _start(tmp_path, sf_dir, key="q_join_star", env=None, pre="",
           own_cache=True) -> dict:
    """Run one session in a subprocess from ``tmp_path``; its report.
    ``own_cache``: a fresh ``XDG_CACHE_HOME`` under ``tmp_path`` instead of
    the user's."""
    run_env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    if own_cache:
        run_env["XDG_CACHE_HOME"] = str(tmp_path / "xdg")
    run_env.update(env or {})
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=ROOT, pre=pre, sf=sf_dir, key=key)],
        capture_output=True, text=True, timeout=600, cwd=tmp_path, env=run_env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "[warning][cds" not in proc.stdout and "[error][cds" not in proc.stdout
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT "))
    report = json.loads(line[len("RESULT "):])
    assert report["problems"] == [], report["problems"]
    # the launch's conf dir is not left set in the driver
    assert report["conf_dir"] == run_env.get("SPARK_CONF_DIR")
    return report


def _cache(tmp_path) -> str:
    return str(tmp_path / "xdg" / "etl_asana_spark" / "cds")


def _key() -> str:
    return session._cds_key(os.environ.get("SPARK_HOME") or session._find_spark_home())


def _spark_conf_dir() -> str:
    """The conf dir Spark's launch scripts use when left alone."""
    return os.environ.get("SPARK_CONF_DIR") or os.path.join(
        session._find_spark_home(), "conf")


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _magic() -> bytes:
    return session._CDS_MAGIC.to_bytes(4, "little")


def test_workers_import_engine_from_any_cwd(tmp_path, sf_dir):
    """A ``mapInArrow`` key run by a driver outside the repo: its Python
    workers must still import ``etl_asana_spark``. (The user's archive
    cache spares this start a dump of its own.)"""
    _start(tmp_path, sf_dir, key="q_dedup_minhash", own_cache=False)


def test_missing_archive_requests_a_dump(tmp_path, sf_dir):
    report = _start(tmp_path, sf_dir)
    cache = _cache(tmp_path)
    (flag,) = [a for a in report["cds"] if a.startswith("-XX:")]
    assert flag.startswith(f"-XX:ArchiveClassesAtExit={cache}/{_key()}.")
    assert flag.endswith(".dump")
    assert report["jvm_conf_dir"] == os.path.join(cache, "conf")
    # the interpreter waited for the dump: the next start promotes it
    archive, dumping = session._cds_archive(cache, _key())
    assert archive is not None and not dumping
    assert archive == os.path.join(cache, f"{_key()}.{os.path.getsize(archive)}.jsa")


def test_broken_archives_are_ignored_and_redumped(tmp_path, sf_dir):
    """A truncated archive (right magic, short of the size in its name), a
    zeroed header, a killed dump and another key's archive: none is passed
    to the JVM, all are deleted, and a new dump is requested."""
    cache = _cache(tmp_path)
    os.makedirs(cache)
    key = _key()
    junk = {
        f"{key}.4096.jsa": _magic() + b"\0" * 100,
        f"{key}.104.jsa": b"\0" * 104,
        f"{key}.{_dead_pid()}.dump": b"\0" * 104,
        f"{'0' * 16}.104.jsa": _magic() + b"\0" * 100,
    }
    for name, data in junk.items():
        with open(os.path.join(cache, name), "wb") as f:
            f.write(data)
    report = _start(tmp_path, sf_dir)
    (flag,) = [a for a in report["cds"] if a.startswith("-XX:")]
    assert flag.startswith("-XX:ArchiveClassesAtExit=")
    assert not set(junk) & set(os.listdir(cache))


def test_mismatched_archive_is_ignored_silently(tmp_path, sf_dir):
    """A real archive dumped over another classpath: the JVM is offered it,
    declines it, and says nothing (``_start`` checks stdout)."""
    cache = _cache(tmp_path)
    os.makedirs(cache)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get(
        "JAVA_HOME") else "java"
    jars = os.path.join(session._find_spark_home(), "jars")
    launcher = next(os.path.join(jars, n) for n in os.listdir(jars)
                    if n.startswith("spark-launcher"))
    dump = str(tmp_path / "other.jsa")
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={dump}", "-cp", launcher,
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=120)
    archive = os.path.join(cache, f"{_key()}.{os.path.getsize(dump)}.jsa")
    shutil.copy(dump, archive)
    report = _start(tmp_path, sf_dir)
    assert f"-XX:SharedArchiveFile={archive}" in report["cds"]
    assert archive not in report["maps"]


def test_unwritable_cache_starts_without_archive(tmp_path, sf_dir):
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    report = _start(tmp_path, sf_dir, env={"XDG_CACHE_HOME": str(not_a_dir)})
    assert report["cds"] == []
    assert report["jvm_conf_dir"] == _spark_conf_dir()


def test_conf_dir_with_real_files_is_left_alone(tmp_path, sf_dir):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# operator settings\n")
    report = _start(tmp_path, sf_dir, env={"SPARK_CONF_DIR": str(conf)})
    assert report["cds"] == []
    assert report["jvm_conf_dir"] == str(conf)
    assert not os.path.exists(_cache(tmp_path))


def test_handed_over_session_is_left_alone(tmp_path, sf_dir):
    report = _start(tmp_path, sf_dir, pre=_HANDED_OVER)
    assert report["cds"] == []
    assert report["jvm_conf_dir"] == _spark_conf_dir()
    assert not os.path.exists(_cache(tmp_path))


def test_dump_promotion_rules(tmp_path):
    """One dump per key at a time, and a finished dump becomes the archive."""
    cache = str(tmp_path)
    key = "k" * 16
    live = os.path.join(cache, f"{key}.{os.getpid()}.dump")
    with open(live, "wb") as f:
        f.write(b"\0" * 8)  # claimed or being written: no magic yet
    assert session._cds_archive(cache, key) == (None, True)
    assert os.path.exists(live)
    done = os.path.join(cache, f"{key}.{_dead_pid()}.dump")
    with open(done, "wb") as f:
        f.write(_magic() + b"\0" * 4)
    archive = os.path.join(cache, f"{key}.8.jsa")
    assert session._cds_archive(cache, key) == (archive, True)
    assert not os.path.exists(done)
    # an archive wins over a finished dump, which is then deleted
    os.remove(live)
    with open(done, "wb") as f:
        f.write(_magic() + b"\0" * 12)
    assert session._cds_archive(cache, key) == (archive, False)
    assert os.listdir(cache) == [os.path.basename(archive)]


@pytest.mark.slow
def test_second_session_maps_the_archive(tmp_path, sf_dir):
    """Two sessions, one cache: the first dumps, the second maps the dump."""
    first = _start(tmp_path, sf_dir)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first["cds"])
    second = _start(tmp_path, sf_dir)
    (archive,) = [m for m in second["maps"] if m.startswith(_cache(tmp_path))]
    assert f"-XX:SharedArchiveFile={archive}" in second["cds"]
