"""Tests for the SparkSession bootstrap: its checks on its environment and its class-data archive."""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

from sparklda.io import synth_docs
from sparklda.session import CACHE, archive_path, get_spark, jvm_launch
from sparklda.text import vocab_from_docs


@pytest.mark.parametrize("cpus", ["abc", "0", ""])
def test_get_spark_rejects_bad_cpus_before_spark_starts(monkeypatch, cpus):
    """These values used to start the JVM and fail inside it, with an error
    naming the master URL (``local[abc]``, ``local[]``) or a thread count,
    not the variable. The check runs before the builder, so no JVM starts."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()


def test_get_spark_rejects_cpus_unlike_the_running_master(spark, monkeypatch):
    """``getOrCreate`` used to hand back the running session whatever
    ``SPARK_GRAFT_CPUS`` asked for, so the core count was ignored silently."""
    running = spark.sparkContext.master
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2" if running == "local[1]" else "1")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark()
    assert spark.sparkContext.master == running
    assert spark.range(3).count() == 3


def test_get_spark_leaves_no_conf_redirect_behind(spark):
    """Only the launcher script reads ``SPARK_CONF_DIR``. Left set, it made
    every process started later take it for a user's conf and start plain,
    at about twice the set-up time."""
    assert os.environ.get("SPARK_CONF_DIR") != os.path.join(os.path.expanduser("~"), CACHE, "conf")


def _machine(tmp_path, conf_file="spark-defaults.conf.template"):
    """An environment whose Spark, JVM and $HOME are files under ``tmp_path``: nothing starts."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    for path in (
        spark_home / "conf" / conf_file,
        spark_home / "jars" / "spark-core.jar",
        java_home / "bin" / "java",
        java_home / "lib" / "server" / "libjvm.so",
    ):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"x")
    return {"SPARK_HOME": str(spark_home), "JAVA_HOME": str(java_home), "HOME": str(tmp_path / "home")}


def test_archive_key_follows_the_jvm_and_the_jars(tmp_path):
    """An archive maps only under the JVM and classpath it was dumped with.
    The key is what gives a JDK or Spark upgrade a fresh dump, instead of a
    stale archive that every later start falls back from."""
    environ = _machine(tmp_path)
    archive = archive_path(environ)
    assert archive == archive_path(environ)
    keys = {archive}
    libjvm = tmp_path / "jdk" / "lib" / "server" / "libjvm.so"
    for upgraded in (tmp_path / "spark" / "jars" / "spark-core.jar", libjvm):
        upgraded.write_bytes(b"a larger file")
        keys.add(archive_path(environ))
    assert len(keys) == 3 and None not in keys
    libjvm.unlink()
    assert archive_path(environ) is None


@pytest.mark.parametrize("user_conf", ["SPARK_CONF_DIR", "HADOOP_CONF_DIR", "spark-defaults.conf"])
def test_jvm_launch_leaves_a_user_conf_alone(tmp_path, user_conf):
    """JDK 17 maps no archive while a non-empty directory is on the
    classpath, and ``SPARK_CONF_DIR`` and ``HADOOP_CONF_DIR`` are on it. A
    user's conf directory, or a real file in Spark's own, keeps the launch
    exactly as it was."""
    if user_conf.endswith("_DIR"):
        environ = dict(_machine(tmp_path), **{user_conf: str(tmp_path / "my-conf")})
    else:
        environ = _machine(tmp_path, conf_file=user_conf)
    before = dict(environ)
    assert jvm_launch(environ) == ({}, None, None)
    assert environ == before
    assert not (tmp_path / "home").exists()


@pytest.mark.parametrize(
    ("returncode", "written"),
    [(0, b"partial archive"), (1, b"partial archive"), (-9, b"partial archive"), (0, None), (0, b"")],
    ids=["exit-0", "failed", "killed", "exit-0-no-file", "exit-0-empty-file"],
)
def test_only_a_dump_whose_jvm_exited_0_is_promoted(tmp_path, returncode, written):
    """A half-written archive crashes the JVM that maps it (SIGBUS), so a
    dump from a JVM that failed or was killed never reaches the archive
    path; the next start dumps again. So does the next start after a JVM
    that exited 0 but wrote no file or an empty one. A non-empty file from
    a JVM that exited 0 is mapped next."""
    environ = _machine(tmp_path)
    env, options, dump = jvm_launch(environ)
    assert options.startswith(f"-XX:ArchiveClassesAtExit={dump.tmp} ")
    assert env == {"SPARK_CONF_DIR": os.path.join(os.path.dirname(dump.archive), "conf")}
    if written is not None:
        with open(dump.tmp, "wb") as fh:
            fh.write(written)
    dump.finish(returncode)
    promoted = returncode == 0 and bool(written)
    assert not os.path.exists(dump.tmp)
    assert os.path.exists(dump.archive) == promoted
    _, options, again = jvm_launch(environ)
    if promoted:
        assert again is None and options.startswith(f"-XX:SharedArchiveFile={dump.archive} ")
    else:
        assert options.startswith(f"-XX:ArchiveClassesAtExit={again.tmp} ")
        again.finish(1)


def test_one_process_dumps_while_others_start_plain(tmp_path):
    """A second dump of the same archive would cost its process about 5 s
    of start-up and 13 s at exit for nothing."""
    environ = _machine(tmp_path)
    _, _, dump = jvm_launch(environ)
    assert jvm_launch(environ) == ({}, None, None)
    dump.finish(1)


def test_stale_dump_of_a_dead_process_is_removed(tmp_path):
    """Each archive is about 163 MB; the temporary file of a process that
    died before promoting it would otherwise stay in the cache forever. A
    dump is in flight only while its process holds the cache's lock, so a
    leftover goes even when its pid names a live process again (pids are
    reused), and the file of a process that holds the lock stays."""
    environ = _machine(tmp_path)
    cache = tmp_path / "home" / CACHE
    cache.mkdir(parents=True)
    gone = subprocess.Popen(["true"])
    gone.wait()
    leftovers = [cache / f"0123456789abcdef.jsa.{pid}.tmp" for pid in (gone.pid, os.getppid())]
    for path in leftovers:
        path.write_bytes(b"x")
    dump = jvm_launch(environ)[2]
    assert not any(path.exists() for path in leftovers)
    with open(dump.tmp, "wb") as fh:
        fh.write(b"x")
    assert jvm_launch(environ) == ({}, None, None)
    assert os.path.exists(dump.tmp)
    dump.finish(1)


CORRUPT_ARCHIVE_CHILD = """
import json
import sys

from sparklda.io import synth_docs
from sparklda.session import get_spark
from sparklda.text import vocab_from_docs

spark = get_spark()
jvm_args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
assert f"-XX:SharedArchiveFile={sys.argv[1]}" in jvm_args, jvm_args
rows = vocab_from_docs(synth_docs(spark, 300, 10, 500, 3), 100).collect()
assert sorted(map(list, rows)) == json.loads(sys.argv[2])
"""


def test_fresh_session_starts_over_a_corrupt_archive(spark, tmp_path):
    """The JVM maps whatever file sits at the archive path. One of random
    bytes must start the JVM plain, without a word on stdout, which is
    ``bench.py``'s one-JSON-line channel. The child also runs at
    ``local[1]`` over 3 input partitions, and must get the rows this
    session gets over 64 for the width test's corpus, whose cutoff falls
    inside a count tie: the rows depend on no core count. ``get_spark``
    keeps a running session's master, so only a fresh process can check
    that. (On a 4-vCPU host, 64 partitions cost the cold child about 1.8 s
    more than 3.)"""
    rows = vocab_from_docs(synth_docs(spark, 300, 10, 500, 64), 100).collect()
    environ = dict(os.environ, HOME=str(tmp_path), SPARK_GRAFT_CPUS="1")
    archive = archive_path(environ)
    os.makedirs(os.path.dirname(archive))
    noise = random.Random(7).randbytes(1 << 20)
    with open(archive, "wb") as fh:
        fh.write(noise)
    child = subprocess.run(
        [sys.executable, "-c", CORRUPT_ARCHIVE_CHILD, archive, json.dumps(sorted(map(list, rows)))],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=environ,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert child.returncode == 0, child.stderr[-4000:]
    assert child.stdout == ""
    with open(archive, "rb") as fh:
        assert fh.read() == noise
