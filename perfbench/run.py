"""Benchmark runner.

    python3 perfbench/run.py --workload operators --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. It builds the
inputs (seeded, under `.perfbench/` in the checkout), starts a session
through `table_computing_spark.session.get_spark` on local[<cores>],
runs the checked warm-up and then the timed region of the workload,
and prints two JSON lines: a record (environment, samples, failures by
name) and, last, the result `{"correct", "attempted", "failed",
"metrics"}`. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ledger. See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from procs import Meter, descendants, rss_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SCALE = 0.01
DATA_SEED = 42
WORKLOADS = ("operators", "stream", "tpch")
# the stream's latency_tail_s: the highest percentile with >= 10 rows
# beyond it at the fixed run length (stats.tail_pct); the batch
# workloads take too few query samples for any percentile above the
# median and report their slowest query instead (stats.query_latency)
STREAM_TAIL_PCT = 99
# unchecked passes after the checked one, before the clock starts. A
# pass's CPU time falls by about a third over its first five or so runs
# as the JVM's JIT settles; the median of the timed passes absorbs the
# rest, since a longer warm-up would not fit the run's time limit
WARM_PASSES = 2


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "gone"


class MemorySampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled from /proc every 0.2 s."""

    def __init__(self):
        super().__init__(name="perfbench-memory", daemon=True)
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, float] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            by_pid = {pid: rss_bytes(pid) for pid in descendants()}
            total = sum(by_pid.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                kinds: dict[str, float] = {}
                for pid, b in by_pid.items():
                    kind = _kind(pid)
                    kinds[kind] = kinds.get(kind, 0) + b / 2**20
                self.peak_by_kind = kinds

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session and the JVM pyspark launched for it, then wait
    until every process started under this one has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class Run:
    """State of one benchmark run, passed to the workloads."""

    def __init__(self, spark, tracer, data_dir: str, work_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.attempted = 0
        self.failures: list[dict] = []

    def fail(self, unit: str, why: str) -> None:
        self.failures.append({"unit": unit, "why": why[:300]})


def environment(seed: int, spark) -> dict:
    with open("/proc/sys/kernel/random/boot_id") as f:
        boot_id = f.read().strip()
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "boot_id": boot_id,
        "seed": seed,
    }


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_main = time.perf_counter()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    try:
        import __spark_entry__ as entry
        from oracle import compare  # noqa: F401 - the checker must exist too
        from table_computing_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"run-{os.getpid()}")
    os.makedirs(work)
    # every temporary file of Python, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    jvm_opts = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    import datagen
    import workloads as wl
    from stats import percentile, query_latency, tail_pct
    from ledger import Tracer

    # fixtures the oracle module writes go under the run directory too
    entry._CSV_INGEST_PATH = os.path.join(work, "fixtures", "csv_ingest.csv")
    entry._JSON_INGEST_PATH = os.path.join(work, "fixtures", "json_ingest.jsonl")
    data_dir = os.path.join(STATE, f"data-sf{SCALE:g}-seed{DATA_SEED}")
    datagen.write_tables(data_dir, SCALE, DATA_SEED)

    memory = MemorySampler()
    memory.start()
    spark = None
    try:
        setup_meter = Meter()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", **{
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
        })
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, data_dir, work)
        t1 = time.perf_counter()
        if args.workload == "stream":
            wl.check_stream(run, args.seed)
        else:
            names = wl.TPCH if args.workload == "tpch" else wl.OPERATORS
            wl.check_batch(run, names)
            for _ in range(WARM_PASSES):
                wl.time_batch(run, names, 0, args.seed)
        warmup_s = time.perf_counter() - t1
        _, setup_steal = setup_meter.read()
        tracer.start_timing()
        t2 = time.perf_counter()
        if args.workload == "stream":
            samples = wl.time_stream(run, args.seconds, args.seed)
        else:
            samples = wl.time_batch(run, names, args.seconds, args.seed)
        timed_s = time.perf_counter() - t2
        cores = spark.sparkContext.defaultParallelism
        env = environment(args.seed, spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        memory.stop()
        shutil.rmtree(work, ignore_errors=True)

    if not samples.passes or not samples.latencies:
        print(f"perfbench: no complete pass; failures: {run.failures}", file=sys.stderr)
        return 1
    pass_s = statistics.median(samples.passes)
    if args.workload == "stream":
        def latency(values):
            return percentile(values, 50), percentile(values, STREAM_TAIL_PCT)
        lat, wall_lat = latency(samples.latencies), latency(samples.wall_latencies)
    else:
        lat = query_latency(samples.query_latencies)
        wall_lat = query_latency(samples.extra["query_s"])
    # every timing is net of hypervisor steal (see workloads.Samples);
    # the record keeps the raw wall times beside them
    e2e = {
        "setup_s": ((start_s + warmup_s) * (1 - setup_steal), "s"),
        "pass_s": (pass_s, "s"),
        "latency_s": (lat[0], "s"),
        "latency_tail_s": (lat[1], "s"),
    }
    peak_mb = memory.peak_bytes / 2**20
    record = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "env": env, "scale": SCALE,
        "samples": {"passes": len(samples.passes), "latencies": len(samples.latencies),
                    "tail_pct_supported": tail_pct(len(samples.latencies))},
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "wall": {
            "setup_s": start_s + warmup_s, "start_s": start_s, "warmup_s": warmup_s,
            "timed_s": timed_s, "total_s": time.perf_counter() - t_main,
            "pass_s": samples.wall_passes,
            "latency_s": wall_lat[0],
            "latency_tail_s": wall_lat[1],
        },
        "steal_share": {"setup": setup_steal, "passes": samples.pass_steal},
        "pass_cpu_s": samples.pass_cpu,
        "query_wall_s": samples.extra.get("query_s"),
        "open_loop_batches": samples.extra.get("open_batches"),  # (rows, trigger s)
        "peak_rss_mb": peak_mb,
        "peak_rss_mb_by_process": memory.peak_by_kind,
        "failures": run.failures,
    }
    if args.workload == "stream":
        record["stream_rows_per_s"] = samples.extra["backlog_rows"] / pass_s
    if args.trace:
        metrics = {
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            # batch sums are per pass; the stream's cover its whole timed region
            **tracer.ledger(1 if args.workload == "stream" else len(samples.passes), cores),
            **wl.stream_ledger(samples),
            "mem.peak_rss_mb": (peak_mb, "MB"),
            "trace.pass_s": (pass_s, "s"),
        }
    else:
        metrics = e2e
    print(json.dumps({"perfbench": record}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
