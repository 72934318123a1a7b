"""SparkSession bootstrap: ``local[$SPARK_GRAFT_CPUS]``, the serialized shuffle writer and
the driver JVM's cached class-data archive."""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
from collections.abc import Mapping

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# The archive cache, under $HOME. It is outside any checkout because its empty
# ``conf`` directory is on the driver's classpath, and an archive maps only
# under the classpath it was dumped with.
CACHE = os.path.join(".cache", "spark-graft")
# Variables that put a directory on the driver's classpath. JDK 17 neither
# dumps nor maps an archive while a non-empty directory is on it.
CLASSPATH_VARS = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# Sent with either archive flag: JVM warnings go to stdout by default. A dump
# warns about each class it cannot archive (837 lines for Spark's jars); those
# are tagged ``cds`` alone, so a mismatched archive's ``[cds,dynamic]`` warning
# still reaches stderr.
JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds=off:stderr"
# Far above the dump's wait at exit, which the ``get_spark`` docstring gives.
DUMP_WAIT_S = 120


def archive_path(environ: Mapping[str, str]) -> str | None:
    """The class-data archive for this machine's JVM and Spark jars, or None.

    The file name is a hash of the paths, sizes and mtimes of the ``java``
    binary that ``spark-class`` runs, its ``libjvm.so`` and Spark's jars, so
    an upgrade of either gets a new file; no JVM starts to compute it. None
    means no archive can be used: a variable of ``CLASSPATH_VARS`` is set,
    the default conf directory holds a file other than a ``*.template``, or
    the JVM is not found.
    """
    if any(environ.get(var) for var in CLASSPATH_VARS):
        return None
    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    with contextlib.suppress(FileNotFoundError):
        if any(not name.endswith(".template") for name in os.listdir(os.path.join(spark_home, "conf"))):
            return None
    if environ.get("JAVA_HOME"):
        java = os.path.join(environ["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java", path=environ.get("PATH"))
        if java is None:
            return None
    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    digest = hashlib.sha256()
    try:
        for path in [java, libjvm, *sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))]:
            st = os.stat(path)
            digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    except FileNotFoundError:
        return None
    home = environ.get("HOME") or os.path.expanduser("~")
    return os.path.join(home, CACHE, digest.hexdigest()[:16] + ".jsa")


class ArchiveDump:
    """This process's claim to dump the archive: the cache's one lock, held until its JVM has exited.

    A dump is in flight only while its process holds the lock, so whoever
    takes the lock deletes every ``*.tmp`` in the cache as a leftover, then
    keeps it to dump or, if the archive exists, releases it at once. The
    JVM writes to ``tmp``, a name unique to this process: a killed holder's
    JVM may still write its file after the next holder's JVM has started,
    and a JVM may have the archive path mapped, so nothing is ever written
    in place there.
    """

    def __init__(self, archive: str, lock):
        self.archive = archive
        self.tmp = f"{archive}.{os.getpid()}.tmp"
        self._lock = lock

    @classmethod
    def claim(cls, archive: str) -> ArchiveDump | None:
        """The claim, or None while another process holds the lock or once the archive exists."""
        cache = os.path.dirname(archive)
        lock = open(os.path.join(cache, "lock"), "a")  # never deleted: a new inode would be a second lock
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            lock.close()
            return None
        for tmp in glob.glob(os.path.join(cache, "*.tmp")):
            os.remove(tmp)
        if os.path.exists(archive):  # promoted by an earlier holder
            lock.close()
            return None
        return cls(archive, lock)

    def finish(self, returncode: int | None) -> None:
        """Promote the dumped file if its JVM exited with status 0, else delete it; release the claim.

        Only a JVM that exited 0 has finished writing its file, and a JVM
        that maps a truncated archive dies with SIGBUS instead of falling back.
        """
        if returncode == 0 and os.path.isfile(self.tmp) and os.path.getsize(self.tmp):
            os.replace(self.tmp, self.archive)
        else:
            with contextlib.suppress(FileNotFoundError):
                os.remove(self.tmp)
        self._lock.close()


def jvm_launch(environ: Mapping[str, str]) -> tuple[dict[str, str], str | None, ArchiveDump | None]:
    """How the driver JVM starts: (variables to set, ``spark.driver.extraJavaOptions``, claimed dump).

    One of three: dump the archive if this process wins
    ``ArchiveDump.claim`` and it does not exist yet; else map it if it
    exists; else start plain with ``({}, None, None)``, which sets nothing
    and leaves a user's ``spark.driver.extraJavaOptions`` in force. A plain
    start is also what a process gets without an ``archive_path``, with a
    cache it cannot write, or while another process dumps. To map or dump,
    ``SPARK_CONF_DIR`` goes to an empty directory in the cache, which is
    what the default conf directory of templates amounts to. ``environ`` is
    not modified.
    """
    archive = archive_path(environ)
    if archive is None:
        return {}, None, None
    cache = os.path.dirname(archive)
    conf = os.path.join(cache, "conf")
    try:
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf):
            return {}, None, None
        dump = ArchiveDump.claim(archive)
    except OSError:  # an unwritable cache: start as if there were none
        return {}, None, None
    if dump is not None:
        return {"SPARK_CONF_DIR": conf}, f"-XX:ArchiveClassesAtExit={dump.tmp} {JVM_LOG}", dump
    if os.path.exists(archive):
        return {"SPARK_CONF_DIR": conf}, f"-XX:SharedArchiveFile={archive} {JVM_LOG}", None
    return {}, None, None


def _finish_dump(dump: ArchiveDump, jvm: subprocess.Popen) -> None:
    """At interpreter exit: end the dumping JVM, wait while it writes, then promote or discard."""
    if jvm.poll() is None:
        if SparkContext._active_spark_context is not None:
            # Stopping also ends its accumulator server, which would print the
            # JVM's exit as a failed request while this process waits.
            SparkContext._active_spark_context.stop()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    dump.finish(jvm.returncode)


def get_spark(app_name: str = "sparklda") -> SparkSession:
    """Build the engine's local SparkSession, or return the running one.

    An unset ``SPARK_GRAFT_CPUS`` means ``local[*]``, one task slot per core.
    Otherwise it must be ``*`` or a decimal int >= 1; any other value raises
    ``ValueError`` before the JVM starts. A JVM has one master, so when a
    session is already running on another master than
    ``local[$SPARK_GRAFT_CPUS]``, ``ValueError`` is raised and that session
    keeps running; stop it first to change the core count. Spark logs only
    errors.

    ``spark.driver.memory`` is set explicitly: in local mode it is the heap
    every task runs in, and reading the key back raises ``SQL_CONF_NOT_FOUND``
    when it was never set. The UI is off; nothing serves it.

    ``spark.shuffle.sort.bypassMergeThreshold`` is 0 so every exchange takes
    the serialized shuffle writer. Spark otherwise picks the bypass-merge
    writer whenever an exchange has at most 200 reduce partitions, which is
    the case for the 200-way ``hashpartitioning(word)`` exchange (SQL
    exchanges never combine inside the shuffle; ``partial_count`` runs
    before it): each map task then opens one file writer per reduce
    partition. AQE coalesces those 200 partitions on the read side only, so
    the map side still pays for all of them. On a 4-vCPU host, the
    300k-token Zipf corpus with ~110k distinct words (4 map tasks,
    137 337 shuffle records) took 1.31-1.39 CPU s per query with
    bypass-merge and 0.47-0.60 CPU s with the serialized writer (one JVM,
    25 warm-up and 25 timed queries); over 10 paired benchmark runs, 1 MB
    pages included, the medians were 1.28 and 0.62 CPU s. The fixture query
    (31 shuffle records) did not move. The physical plan is unchanged.

    ``spark.buffer.pageSize`` is 1 MB because the serialized writer buffers
    each map task's records in pages of that size. The default page is
    16-64 MB (at 32 down to 4 cores), and on the 8 GB heap G1 (4 MB regions) allocates anything
    over 2 MB as a humongous object, each one able to start a concurrent
    mark cycle. With the default page, 61 queries of the Zipf corpus caused
    68 such cycles, and some JVMs spent about 0.3 CPU s per query in G1
    threads; with 1 MB pages there was 1.

    A call that launches the JVM starts it from a JDK class-data archive,
    ``~/.cache/spark-graft/<key>.jsa`` (``archive_path``, ``jvm_launch``),
    passed as ``spark.driver.extraJavaOptions``. On a 4-vCPU host, import,
    ``get_spark`` and the first sf0.1 ``vocab_topv`` took 6.5-8.7 s with it
    (10 runs) and 11.6-13.1 s without (8 runs): ``get_spark`` 3.5-4.9 s
    instead of 5.8-7.1 s, the first query 2.9-3.6 s instead of 5.1-6.2 s.
    Warm query CPU did not move (0.170-0.194 against 0.175-0.189 CPU s).
    Over 10 paired perfbench runs per workload, the median ``setup_s`` fell
    from 10.8 to 5.7 s on the sf0.1 fixture and from 12.2 to 6.9 s on the
    Zipf corpus.
    When no archive exists, the first process dumps one: its set-up took
    15.8-18.6 s, and at interpreter exit it waits 13-14 s while its JVM
    writes the 163 MB file. Only a JVM that exited 0 gets its file promoted,
    by ``os.replace``; a process that starts while another one dumps starts
    plain. JDK 17 neither dumps nor maps while a non-empty directory is on
    the classpath, so the archive is used only when ``SPARK_CONF_DIR`` is
    unset and Spark's conf directory holds nothing but templates.
    ``SPARK_CONF_DIR`` is then set to the cache's empty ``conf`` for the
    launch only: it is removed again once ``getOrCreate`` returns or raises,
    so a process this one starts later maps the archive too. A mismatched
    or corrupt archive starts the JVM plain; JVM warnings go to stderr.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Checked before the builder runs: the JVM's error for a bad master names
    # the URL, not the variable, and its master pattern takes only ASCII digits.
    if cpus != "*" and not (cpus.isascii() and cpus.isdecimal() and int(cpus) >= 1):
        raise ValueError(f"SPARK_GRAFT_CPUS must be * or an int >= 1, got {cpus!r}")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.shuffle.sort.bypassMergeThreshold", "0")
        .config("spark.buffer.pageSize", "1m")
    )
    env, dump = {}, None
    # With PYSPARK_GATEWAY_PORT set, a JVM started elsewhere is already running.
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        env, java_options, dump = jvm_launch(os.environ)
        if java_options:
            builder = builder.config("spark.driver.extraJavaOptions", java_options)
    # Only the launcher script reads them; left set, they would keep any
    # process started later from mapping the archive.
    os.environ.update(env)
    try:
        spark = builder.getOrCreate()
    finally:
        for var in env:
            del os.environ[var]
    if dump is not None:
        atexit.register(_finish_dump, dump, SparkContext._gateway.proc)
    master = spark.sparkContext.master
    if master != f"local[{cpus}]":
        raise ValueError(f"SPARK_GRAFT_CPUS asks for local[{cpus}], but a session is running on {master}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark
