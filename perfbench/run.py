"""The repository benchmark: the vocabulary query on one workload.

Run it from the root of a checkout::

    python3 perfbench/run.py --workload zipf-wide --seed 1 --seconds 12 --trace 0

It starts Spark ``local[<cores>]`` through ``sparklda.session.get_spark``
and runs a closed loop with one client: the next query starts only when the
previous one has finished. One query is the declared ``vocab_topv`` chain,
``sparklda.io.read_table`` -> ``__spark_entry__.vocab_from_docs`` -> noop
sink. Outside the timed loop it collects the query's rows once and compares
them with DuckDB running ``oracle_sql()["vocab_topv"]`` on the same files.

``setup_s`` is the time from process start until the session has answered
its first query: imports, JVM launch, ``get_spark``, file listing and one
cold query. Generating a corpus is not part of it.

After a fixed number of untimed queries, the timed loop is cut into blocks
of ``BLOCK_SECONDS``. ``query_cpu_s`` is the median over blocks of the CPU
time per query: the Spark JVM without its JIT compiler threads, plus the
Python driver. It is reported instead of wall time because on a shared
virtual machine the host takes CPU away from the guest (steal) by the
second: with 1-20 % steal the same query's wall time varies up to twofold
between runs, while CPU time, which the kernel counts without steal, varies
a few times less. Wall time per query (median and tail) is printed and
written to the result file, unbounded. JIT compilation is left out because
C2 is still compiling when the run ends, at a pace set by the host's load.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` records one span
per call into the program, joins the spans to per-stage metrics from Spark's
event log (switched on at JVM launch for that run only), and prints the
per-layer metrics; it then times an untraced phase in a fresh session to
report the tracing overhead. Each run writes its result, with an
environment record, to ``.perfbench/results/`` in the checkout. The last line
of stdout is the result as one JSON object.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

PROCESS_START = time.perf_counter()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
FIXTURE_DIR = os.path.join(BENCH_DIR, "fixture", "sf0.1")
QUERY_PROP = "perfbench.query"
BLOCK_SECONDS = 2.0

# The fixture query is driver-bound (270 704 tokens, 31 words, one scan task);
# the other workloads are the generated corpora of ``corpus.SPECS``.
FIXTURE_WORKLOAD = "fixture-sf0.1"
WORKLOADS = (FIXTURE_WORKLOAD, "zipf-wide")

# Untimed queries after set-up, counted rather than timed: C2 keeps
# compiling for about a minute, and the code's speed follows how many
# queries have run, not how long they took on a busy host. These counts take
# 12 s (fixture) and 27 s (zipf-wide) on an idle 4-vCPU host; with 30 zipf-wide
# queries, some runs still had C2 replace a hot method halfway through the
# timed loop. WARM_CAP_SECONDS bounds the run time.
WARM_QUERIES = {FIXTURE_WORKLOAD: 60, "zipf-wide": 40}
WARM_CAP_SECONDS = 30.0

END_TO_END_UNITS = {
    "query_cpu_s": "s",
    "tokens_per_cpu_s": "tokens/s",
    "setup_s": "s",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "io.read_table_s": "s",
    "io.scan_tasks": "count",
    "io.input_records": "count",
    "io.input_bytes": "bytes",
    "entry.vocab_from_docs_s": "s",
    "driver.plan_s": "s",
    "driver.overhead_s": "s",
    "driver.jobs": "count",
    "driver.stages": "count",
    "map.tasks": "count",
    "map.run_s": "s",
    "map.cpu_s": "s",
    "map.gc_s": "s",
    "map.task_max_over_median": "ratio",
    "map.shuffle_write_records": "count",
    "map.shuffle_write_bytes": "bytes",
    "map.spill_bytes": "bytes",
    "reduce.tasks": "count",
    "reduce.run_s": "s",
    "reduce.shuffle_read_records": "count",
    "reduce.shuffle_read_bytes": "bytes",
    "reduce.spill_bytes": "bytes",
    "combine.ratio": "ratio",
    "plan.exchanges": "count",
    "plan.python_eval_nodes": "count",
    "rows_out": "count",
    # The JVM's resident peak under get_spark's own heap limit. G1 grows the
    # heap when garbage collection falls behind, so this swings with the
    # host's load between runs, too widely to bound as an end-to-end metric.
    "peak_rss_mb": "MB",
    "trace.query_s_p50": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launch_env(work: str, trace: bool) -> dict[str, str]:
    """Environment for the Spark JVM: every file it writes stays under ``work``.

    Memory settings are left to ``get_spark``, so ``peak_rss_mb`` is the
    program's own.
    """
    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Applies to every JVM Spark starts, the spark-submit launcher too.
        # A fixed set of JIT compiler threads, so that CpuClock can subtract
        # their CPU time; it changes when code is compiled, not how.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
    }


class Tracer:
    """Spans kept in memory: name, start, end, parent and query id."""

    def __init__(self):
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, query: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(
                {"name": name, "query": query, "parent": parent, "start": start, "end": time.time()}
            )


class CpuClock:
    """CPU seconds of the Spark JVM and this process, split into query work and JIT.

    The JVM's total comes from ``/proc/<pid>/stat``, which keeps the time of
    threads that have exited; the compiler threads' share from their own
    ``schedstat``. Neither counts time the host stole from the guest.
    """

    def __init__(self, pid: int):
        self.pid = pid
        self.tick = os.sysconf("SC_CLK_TCK")
        task = f"/proc/{pid}/task"
        self.jit_tids = []
        for tid in os.listdir(task):
            with open(f"{task}/{tid}/comm") as fh:  # "C2 CompilerThre", cut to 15 bytes
                if "CompilerThre" in fh.read():
                    self.jit_tids.append(tid)
        if not self.jit_tids:
            raise RuntimeError(f"no JIT compiler thread found in JVM {pid}")

    def read(self) -> tuple[float, float]:
        """(query CPU seconds, JIT CPU seconds) used so far."""
        with open(f"/proc/{self.pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / self.tick  # utime + stime
        jit = 0.0
        for tid in self.jit_tids:
            with open(f"/proc/{self.pid}/task/{tid}/schedstat") as fh:
                jit += int(fh.read().split()[0]) / 1e9
        return jvm - jit + time.process_time(), jit


class Bench:
    """One benchmark run: the program's entry points and the input directory."""

    def __init__(self, sf_dir: str):
        import __spark_entry__
        from sparklda.io import read_table
        from sparklda.session import get_spark

        self.get_spark = get_spark
        self.read_table = read_table
        self.vocab_from_docs = __spark_entry__.vocab_from_docs
        self.oracle_sql = __spark_entry__.oracle_sql()["vocab_topv"]
        self.sf_dir = sf_dir
        self.spark = None

    def start_session(self) -> float:
        t = time.perf_counter()
        self.spark = self.get_spark("perfbench")
        elapsed = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def query(self) -> None:
        df = self.vocab_from_docs(self.read_table(self.spark, "documents", self.sf_dir))
        df.write.format("noop").mode("overwrite").save()

    def traced_query(self, tracer: Tracer, qid: str) -> None:
        """One query with a span per call; its jobs carry ``qid``."""
        self.spark.sparkContext.setLocalProperty(QUERY_PROP, qid)
        with tracer.span("query", qid):
            with tracer.span("io.read_table", qid, "query"):
                docs = self.read_table(self.spark, "documents", self.sf_dir)
            with tracer.span("entry.vocab_from_docs", qid, "query"):
                df = self.vocab_from_docs(docs)
            with tracer.span("write", qid, "query"):
                df.write.format("noop").mode("overwrite").save()
        self.spark.sparkContext.setLocalProperty(QUERY_PROP, None)

    def set_up(self) -> tuple[float, float]:
        """Start a session and answer one query; returns (get_spark seconds, total seconds)."""
        t = time.perf_counter()
        session_s = self.start_session()
        self.query()
        return session_s, time.perf_counter() - t

    def warm_up(self, queries: int, cap_seconds: float) -> tuple[int, float]:
        """Untimed queries, ``queries`` of them or until ``cap_seconds``; returns (count, seconds)."""
        n, start = 0, time.perf_counter()
        while n < queries and time.perf_counter() - start < cap_seconds:
            self.query()
            n += 1
        return n, time.perf_counter() - start

    def timed_loop(self, seconds: float, run_one, clock: CpuClock | None = None):
        """Closed loop for ``seconds``.

        Returns (wall times of good queries, failures, blocks); with a
        ``clock``, each block of about ``BLOCK_SECONDS`` is a tuple (good
        queries, query CPU seconds, JIT CPU seconds).
        """
        times, failed, blocks = [], 0, []
        now = time.perf_counter()
        deadline = now + seconds
        block_end, block_n = now + BLOCK_SECONDS, 0
        cpu0 = clock.read() if clock else None
        while now < deadline:
            t = time.perf_counter()
            try:
                run_one(len(times) + failed)
            except Exception:  # a failed query is counted, and the loop goes on
                traceback.print_exc()
                failed += 1
            else:
                times.append(time.perf_counter() - t)
                block_n += 1
            now = time.perf_counter()
            if clock and block_n and (now >= block_end or now >= deadline):
                cpu1 = clock.read()
                blocks.append((block_n, cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]))
                cpu0, block_end, block_n = cpu1, now + BLOCK_SECONDS, 0
        return times, failed, blocks

    def check_output(self) -> tuple[bool, int]:
        """Compare the query's rows with the DuckDB oracle; returns (match, rows)."""
        import duckdb

        df = self.vocab_from_docs(self.read_table(self.spark, "documents", self.sf_dir))
        got = sorted(tuple(r) for r in df.collect())
        table = os.path.join(self.sf_dir, "documents.parquet")
        files = os.path.join(table, "*.parquet") if os.path.isdir(table) else table
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{files}')")
            want = sorted(tuple(r) for r in con.execute(self.oracle_sql).fetchall())
        finally:
            con.close()
        return got == want, len(got)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def shut_down(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(times: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it: (value, percentile)."""
    ordered = sorted(times)
    k = len(ordered) - 11  # 10 samples lie above index k
    if k < 0:
        return ordered[-1], 100.0
    return ordered[k], 100.0 * (k + 1) / len(ordered)


def environment(bench: Bench, seed: int, sizes: dict) -> dict:
    import pyspark

    def cpu_model():
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
        return platform.processor()

    sources = sorted(glob.glob("sparklda/**/*.py", recursive=True)) + ["__spark_entry__.py"]
    digest = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as fh:
            digest.update(path.encode() + b"\0" + fh.read())
    commit = None
    if os.path.isdir(".git"):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, check=False
        ).stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu": cpu_model(),
        "spark": pyspark.__version__,
        "java": bench.spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": bench.spark.conf.get("spark.driver.memory"),
        "seed": seed,
        "input": sizes,
        "commit": commit,
        "source_sha256": digest.hexdigest(),
    }


def layer_metrics(tracer, session_s, log_dir, sizes, rows_out, times):
    """Per-layer means over the traced queries, from spans and the event log.

    Means rather than medians, so that events most queries do not see, such
    as a garbage-collection pause, still show.
    """
    import eventlog

    stages = eventlog.per_query(eventlog.read_events(log_dir), QUERY_PROP)
    by_query: dict[str, dict[str, dict]] = {}
    for s in tracer.spans:
        by_query.setdefault(s["query"], {})[s["name"]] = s
    rows = []
    for qid, spans in by_query.items():
        if qid not in stages or "query" not in spans:
            continue
        q = spans["query"]
        dur = {n: s["end"] - s["start"] for n, s in spans.items()}
        stage_s = eventlog.union_length(stages[qid]["stage_intervals"], q["start"], q["end"])
        row = {k: v for k, v in stages[qid].items() if k != "stage_intervals"}
        row.update(
            {
                "io.read_table_s": dur["io.read_table"],
                "entry.vocab_from_docs_s": dur["entry.vocab_from_docs"],
                # Driver self time: what is neither a stage nor an io/entry span.
                "driver.overhead_s": dur["query"]
                - stage_s
                - dur["io.read_table"]
                - dur["entry.vocab_from_docs"],
                "combine.ratio": stages[qid]["map.shuffle_write_records"] / sizes["tokens"],
            }
        )
        rows.append(row)
    if not rows:
        raise RuntimeError(f"no traced query found in the event log {log_dir}")
    metrics = {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
    metrics.update(
        {
            "session.get_spark_s": session_s,
            "rows_out": rows_out,
            "trace.query_s_p50": statistics.median(times),
        }
    )
    return metrics, len(rows)


def report(result: dict, notes: list[str]) -> None:
    """Human-readable lines ahead of the final JSON line."""
    for line in notes:
        print(line)
    for name, m in result["metrics"].items():
        print(f"  {name:<28} {m['value']:>16.6g} {m['unit']}")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(1, root)  # after this script's directory
    try:
        bench = Bench(FIXTURE_DIR)
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - PROCESS_START

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(root, ".perfbench", "results")
    for d in ("tmp", "eventlog", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    os.environ.update(launch_env(work, bool(args.trace)))

    import corpus

    t = time.perf_counter()
    if args.workload == FIXTURE_WORKLOAD:
        table = os.path.join(FIXTURE_DIR, "documents.parquet")
    else:
        spec = corpus.SPECS[args.workload]
        table = corpus.generate(spec, args.seed, os.path.join(work, "corpus"))
        bench.sf_dir = os.path.dirname(table)
    sizes = corpus.describe(table)
    gen_s = time.perf_counter() - t

    try:
        session_s, setup_s = bench.set_up()
        setup_s += import_s
        n_warm, warm_s = bench.warm_up(WARM_QUERIES[args.workload], WARM_CAP_SECONDS)
        env = environment(bench, args.seed, sizes)

        notes = [
            f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
            f"local[{env['nproc']}] tokens={sizes['tokens']} distinct={sizes['distinct']} "
            f"files={sizes['files']} bytes={sizes['bytes']} (generated in {gen_s:.2f} s)",
            f"  set-up: {setup_s:.3f} s (get_spark {session_s:.3f} s); "
            f"then {n_warm} warm-up queries in {warm_s:.1f} s",
        ]
        if args.trace:
            tracer = Tracer()
            app_id = bench.spark.sparkContext.applicationId
            times, failed, _ = bench.timed_loop(
                args.seconds / 2, lambda i: bench.traced_query(tracer, f"q{i}")
            )
            ok, rows_out = bench.check_output()
            bench.stop_session()  # flushes the event log
            # The untraced phase runs in a fresh session without the event log.
            from pyspark import SparkContext

            SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
            bench.set_up()
            untraced, failed_untraced, _ = bench.timed_loop(
                args.seconds / 2, lambda i: bench.query()
            )
            failed += failed_untraced
            log_dir = os.path.join(work, "eventlog", f"eventlog_v2_{app_id}")
            values, n_traced = layer_metrics(tracer, session_s, log_dir, sizes, rows_out, times)
            values["trace.overhead_s"] = statistics.median(times) - statistics.median(untraced)
            values["peak_rss_mb"] = peak_rss_mb(bench.jvm_pid())  # the same JVM throughout
            units = PER_LAYER_UNITS
            attempted = len(times) + len(untraced) + failed + 1
            notes.append(
                f"  traced queries: {n_traced}; tracing overhead "
                f"{values['trace.overhead_s'] * 1e3:+.1f} ms on a {statistics.median(untraced):.4f} s "
                f"untraced p50; combine.ratio = {values['map.shuffle_write_records']:.0f} "
                f"shuffle records / {sizes['tokens']} tokens"
            )
            extra = {"spans": tracer.spans}
        else:
            clock = CpuClock(bench.jvm_pid())
            times, failed, blocks = bench.timed_loop(
                args.seconds, lambda i: bench.query(), clock
            )
            ok, rows_out = bench.check_output()
            cpu_s = statistics.median(cpu / n for n, cpu, _ in blocks)
            jit_s = sum(jit for _, _, jit in blocks) / len(times)
            tail_s, tail_pct = tail(times)
            values = {
                "query_cpu_s": cpu_s,
                "tokens_per_cpu_s": sizes["tokens"] / cpu_s,
                "setup_s": setup_s,
            }
            units = END_TO_END_UNITS
            attempted = len(times) + failed + 1
            notes.append(
                f"  queries: {len(times)} in {args.seconds:g} s (closed loop, one client), "
                f"{len(blocks)} blocks; wall p50 {statistics.median(times):.4f} s, "
                f"p{tail_pct:.1f} {tail_s:.4f} s; JIT {jit_s:.4f} CPU s/query "
                f"(not in query_cpu_s); rows_out={rows_out}"
            )
            extra = {"query_s": times, "cpu_blocks": blocks}
        failed += 0 if ok else 1
        notes.append(
            f"  output check vs DuckDB: {'ok' if ok else 'MISMATCH'}; "
            f"error_rate = {failed}/{attempted} = {failed / attempted:.4f}"
        )
        result = {
            "correct": ok and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    finally:
        bench.shut_down()
        shutil.rmtree(work, ignore_errors=True)

    record = dict(result, environment=env, warm_up={"queries": n_warm, "seconds": warm_s}, **extra)
    out = os.path.join(
        results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    report(result, notes + [f"  environment: {json.dumps(env)}", f"  written to {out}"])
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
