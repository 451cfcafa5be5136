"""The three workloads: `tpch` and `operators` (closed-loop batch query
lists) and `stream` (the canonical stateful stream, open loop then
drain). Each takes a `Run` context and fills its samples."""

from __future__ import annotations

import json
import os
import random
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq

from datagen import EventStream
from procs import Meter
from stats import batch_latencies, source_lag

TPCH = ["q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q8", "q_tpch_q12", "q_tpch_q21"]
OPERATORS = ["q_ks_drift", "q_logreg_gd", "q_holt"]
QUERY_TIMEOUT_S = 60.0
STREAM_TIMEOUT_S = 60.0


@dataclass
class Samples:
    """What the timed region measured. `passes` (a pass over the query
    list, or a drain) and `latencies` are net of hypervisor steal: wall
    time x (1 - the share of wanted CPU time the host stole from the
    most-stolen vCPU over the same interval, procs.Meter). The raw wall times, the steal shares
    and the CPU seconds per pass go to the record."""
    passes: list[float] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    query_latencies: dict[str, list[float]] = field(default_factory=dict)
    wall_passes: list[float] = field(default_factory=list)
    wall_latencies: list[float] = field(default_factory=list)
    pass_steal: list[float] = field(default_factory=list)
    pass_cpu: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def add_pass(self, wall: float, net: float, cpu: float) -> None:
        self.wall_passes.append(wall)
        self.passes.append(net)
        self.pass_steal.append(1 - net / wall if wall else 0.0)
        self.pass_cpu.append(cpu)


class Watchdog:
    """Cancel every running Spark job if a unit overruns its timeout;
    the unit then raises and is counted as failed."""

    def __init__(self, sc, timeout_s: float):
        self._timer = threading.Timer(timeout_s, sc.cancelAllJobs)
        self._timer.daemon = True

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        self._timer.join()


def _describe(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:300]


# -- batch ------------------------------------------------------------------
def check_batch(run, names: list[str]) -> None:
    """Untimed warm-up pass: every query once, compared with its DuckDB
    oracle. A mismatch is named and counted as a failure."""
    import __spark_entry__ as entry
    from oracle import compare, duck_con

    queries, oracles = entry.queries(), entry.oracle_sql()
    con = duck_con(run.data_dir)
    try:
        for name in names:
            run.attempted += 1
            try:
                with Watchdog(run.sc, QUERY_TIMEOUT_S), run.tracer.phase(name, "check"):
                    issues = compare(queries[name](run.spark, run.data_dir), con.sql(oracles[name]))
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                issues = [_describe(exc)]
            if issues:
                run.fail(name, "; ".join(issues))
    finally:
        con.close()


def time_batch(run, names: list[str], seconds: float, seed: int) -> Samples:
    """Closed loop, one client: whole passes over `names` in a
    seed-permuted order until `seconds` have passed. Each query is
    built and executed to the noop sink; its latency is build + execute."""
    import __spark_entry__ as entry

    queries = entry.queries()
    rng = random.Random(seed)
    out = Samples()
    t_end = time.perf_counter() + seconds
    while True:
        wall = net = cpu = 0.0
        ok = True
        for name in rng.sample(names, len(names)):
            run.attempted += 1
            meter = Meter()
            t0 = time.perf_counter()
            try:
                with Watchdog(run.sc, QUERY_TIMEOUT_S):
                    with run.tracer.phase(name, "build"):
                        df = queries[name](run.spark, run.data_dir)
                    if run.tracer.enabled:
                        with run.tracer.phase(name, "plan"):
                            run.tracer.force_plan(df)
                    with run.tracer.phase(name, "exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 - a failing query is a result
                run.fail(name, _describe(exc))
                ok = False
                continue
            dt = time.perf_counter() - t0
            q_cpu, steal = meter.read()
            out.wall_latencies.append(dt)
            out.latencies.append(dt * (1 - steal))
            out.query_latencies.setdefault(name, []).append(dt * (1 - steal))
            out.extra.setdefault("query_s", {}).setdefault(name, []).append(dt)
            wall, net, cpu = wall + dt, net + dt * (1 - steal), cpu + q_cpu
            run.tracer.harvest()
        if ok:
            out.add_pass(wall, net, cpu)
        if time.perf_counter() >= t_end:
            return out


# -- stream -----------------------------------------------------------------
N_USERS = 150  # users of the events table at sf0.01; all are customers
STATE_PARTITIONS = "8"  # what the library's own stream queries run with
CHECK_SLICES, CHECK_ROWS = 2, 300
BACKLOG_SLICES, BACKLOG_ROWS = 2, 2000
MIN_DRAINS, MAX_DRAINS = 2, 8
# the open loop's latency median rests on its few micro-batches (each
# ~2 s, mostly fixed cost); the drains' median needs only MIN_DRAINS
OPEN_SHARE = 2 / 3
SLICE_S = 0.1  # fine slices: a row's latency is not rounded to a coarse schedule
RATE_ROWS_PER_S = 500
WINDOW = 5
OUT_COLS = ["event_id", "user_id", "n_name", "tsum_cents", "tn"]


class StreamFailed(RuntimeError):
    pass


@dataclass
class StreamRun:
    name: str
    src_dir: str
    wall_s: float
    progress: list[dict]
    output: object  # pandas.DataFrame of OUT_COLS


def _pipeline(run, src_dir: str, files_per_trigger: int | None):
    """The reference's canonical stateful pipeline: events file stream,
    enriched through a broadcast DimensionTable (customer x nation),
    then a per-user trailing-5 sum kept in Python state."""
    import pandas as pd
    from pyspark.sql import types as T

    import table_computing_spark.sources.parquet as parquet
    from table_computing_spark.streaming.dimension import DimensionTable
    from table_computing_spark.streaming.stateful import VectorizedRowAgg, stream_over_by_size

    spark, data = run.spark, run.data_dir

    def load_dim():
        c = parquet.load_table(spark, data, "customer").df.select("c_custkey", "c_nationkey")
        n = parquet.load_table(spark, data, "nation").df.select("n_nationkey", "n_name")
        return c.join(n, c.c_nationkey == n.n_nationkey).select("c_custkey", "n_name")

    def trailing(history: pd.DataFrame, n_old: int) -> pd.DataFrame:
        roll = history["value"].mul(100).round().rolling(WINDOW, min_periods=1)
        return pd.DataFrame({
            "tsum_cents": roll.sum().iloc[n_old:].astype("int64").values,
            "tn": roll.count().iloc[n_old:].astype("int64").values,
        })

    dim = DimensionTable(load_dim, refresh_interval_s=3600.0)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()), T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.LongType()), T.StructField("value", T.DoubleType()),
        T.StructField("due_ns", T.LongType()),
    ])
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    enriched = dim.join(reader.parquet(src_dir), on=[("user_id", "c_custkey")], how="left")
    out = stream_over_by_size(
        enriched, ["user_id"], "ts", WINDOW, VectorizedRowAgg(trailing),
        [T.StructField("tsum_cents", T.LongType()), T.StructField("tn", T.LongType())],
    )
    return out.select(*OUT_COLS), dim


def _write_slice(directory: str, index: int, table) -> None:
    """Publish a slice atomically: Spark's file source ignores names
    starting with `_`, so it never sees a half-written file."""
    tmp = os.path.join(directory, f"_tmp-{index:05d}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, f"slice-{index:05d}.parquet"))


def _write_backlog(directory: str, gen: EventStream, slices: int, rows: int) -> None:
    os.makedirs(directory)
    due = time.time_ns()
    for i in range(slices):
        _write_slice(directory, i, gen.slice(rows, due))
        # distinct, increasing modification times: the file source
        # admits files in that order, one per trigger
        t = time.time() - (slices - i)
        os.utime(os.path.join(directory, f"slice-{i:05d}.parquet"), (t, t))


def _progress(q) -> list[dict]:
    return [json.loads(p.json()) for p in q._jsq.recentProgress()]


def _failed(q) -> None:
    if q.exception() is not None:
        raise StreamFailed(str(q.exception())[:300])


def _run(run, name: str, src_dir: str, feed=None) -> StreamRun:
    """Run the pipeline on `src_dir` into a memory sink. Without `feed`
    it drains what is there (availableNow, one slice per micro-batch);
    with `feed(q)` the stream runs until `feed` returns. A stream that
    times out or ends with an exception is a failed run: it is
    stopped, raises StreamFailed, and no rate is read off it."""
    with run.tracer.phase(name, "build"):
        out, dim = _pipeline(run, src_dir, None if feed else 1)
    table = f"perfbench_{name}"
    w = (out.writeStream.format("memory").queryName(table).outputMode("append")
         .option("checkpointLocation", os.path.join(run.work_dir, f"ckpt-{name}")))
    w = w.trigger(processingTime="0 seconds") if feed else w.trigger(availableNow=True)
    conf = run.spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    try:
        t0 = time.perf_counter()
        with run.tracer.phase(name, "exec"):
            conf.set("spark.sql.shuffle.partitions", STATE_PARTITIONS)  # read at start
            q = w.start()
            conf.set("spark.sql.shuffle.partitions", prev)
            try:
                if feed:
                    feed(q)
                    q.stop()
                elif not q.awaitTermination(STREAM_TIMEOUT_S):
                    raise StreamFailed(f"stream did not finish within {STREAM_TIMEOUT_S:.0f}s")
                _failed(q)
            finally:
                if q.isActive:
                    q.stop()
        wall = time.perf_counter() - t0
        output = run.spark.table(table).toPandas()
        return StreamRun(name, src_dir, wall, _progress(q), output)
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
        dim.unpersist()


def _rows_in(q) -> int:
    return sum(p["numInputRows"] for p in _progress(q))


def open_loop(run, src_dir: str, gen: EventStream, seconds: float):
    """Offer RATE_ROWS_PER_S, one slice every SLICE_S on a fixed
    schedule that does not wait for Spark, then wait until every
    offered row has been through a micro-batch. Returns the run, the
    slices as (rows, due_ns) and how late each slice was written."""
    os.makedirs(src_dir)
    n_slices = max(1, round(seconds / SLICE_S))
    rows = int(RATE_ROWS_PER_S * SLICE_S)
    slices: list[tuple[int, int]] = []
    late: list[float] = []

    def feed(q) -> None:
        deadline = time.monotonic() + STREAM_TIMEOUT_S
        while q.lastProgress is None:  # the first (empty) trigger is done
            _failed(q)
            if time.monotonic() > deadline:
                raise StreamFailed("stream did not start")
            time.sleep(0.05)
        t0 = time.time_ns()
        for i in range(n_slices):
            due = t0 + int(i * SLICE_S * 1e9)
            time.sleep(max(0.0, (due - time.time_ns()) / 1e9))
            _write_slice(src_dir, i, gen.slice(rows, due))
            late.append((time.time_ns() - due) / 1e9)
            slices.append((rows, due))
        deadline = time.monotonic() + STREAM_TIMEOUT_S
        while _rows_in(q) < n_slices * rows:
            _failed(q)
            if time.monotonic() > deadline:
                raise StreamFailed(f"offered rows did not reach the sink in {STREAM_TIMEOUT_S:.0f}s")
            time.sleep(0.05)

    return _run(run, "open", src_dir, feed), slices, late


def batch_ends(progress: list[dict]) -> list[tuple[int, int]]:
    """(input rows, end time in epoch ns) of each micro-batch that read
    rows, in batch order; a batch ends when its trigger completes."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if p["numInputRows"] > 0:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            start_ns = int(start.timestamp() * 1000) * 1_000_000
            out.append((p["numInputRows"], start_ns + p["durationMs"]["triggerExecution"] * 1_000_000))
    return out


def expected(run, src_dir: str):
    """Batch reference for a stream run: the same enrichment, then the
    batch over-window `operators.windows.over_by_size` over the rows
    the stream consumed."""
    from pyspark.sql import functions as F

    import table_computing_spark.sources.parquet as parquet
    from table_computing_spark.operators.windows import over_by_size
    from table_computing_spark.table import Table

    spark, data = run.spark, run.data_dir
    ev = spark.read.parquet(src_dir)
    c = parquet.load_df(spark, data, "customer").select("c_custkey", "c_nationkey")
    n = parquet.load_df(spark, data, "nation").select("n_nationkey", "n_name")
    ev = ev.join(c.join(n, c.c_nationkey == n.n_nationkey), ev.user_id == F.col("c_custkey"), "left")
    return over_by_size(
        Table(ev, "events"), ["user_id"], ["ts"], WINDOW,
        tsum_cents=F.sum(F.round(F.col("value") * 100).cast("long")),
        tn=F.count(F.lit(1)),
    ).df.select(*OUT_COLS).toPandas()


def verify(run, stream: StreamRun, ref) -> None:
    """Stream output must equal the batch reference row for row."""
    got = stream.output.sort_values("event_id").reset_index(drop=True)
    want = ref.sort_values("event_id").reset_index(drop=True)
    if len(got) != len(want):
        run.fail(stream.name, f"{len(got)} rows out, {len(want)} expected")
        return
    bad = [c for c in OUT_COLS if not (got[c].astype(str).values == want[c].astype(str).values).all()]
    if bad:
        run.fail(stream.name, f"columns differ from the batch over_by_size reference: {bad}")


def check_stream(run, seed: int) -> None:
    """Untimed warm-up: drain a small backlog and compare the output
    with the batch reference."""
    src = os.path.join(run.work_dir, "src-check")
    _write_backlog(src, EventStream(seed + 1, N_USERS), CHECK_SLICES, CHECK_ROWS)
    run.attempted += 1
    try:
        stream = _run(run, "check", src)
    except StreamFailed as exc:
        run.fail("check", str(exc))
        return
    verify(run, stream, expected(run, src))


def time_stream(run, seconds: float, seed: int) -> Samples:
    """Open loop for OPEN_SHARE of `seconds`, then drains of a fixed
    backlog for the rest (at least MIN_DRAINS); outputs are checked
    against the batch reference after the clock stops."""
    out = Samples()
    backlog = os.path.join(run.work_dir, "src-backlog")
    _write_backlog(backlog, EventStream(seed + 2, N_USERS), BACKLOG_SLICES, BACKLOG_ROWS)
    runs: list[StreamRun] = []
    run.attempted += 1
    meter = Meter()
    try:
        stream, slices, late = open_loop(
            run, os.path.join(run.work_dir, "src-live"), EventStream(seed, N_USERS), seconds * OPEN_SHARE)
        _, steal = meter.read()
        ends = batch_ends(stream.progress)
        out.wall_latencies = batch_latencies(ends, slices)
        out.latencies = [x * (1 - steal) for x in out.wall_latencies]
        out.extra.update(gen_late_s=max(late), source_lag_rows=source_lag(ends, slices),
                         progress=list(stream.progress),
                         open_batches=[(p["numInputRows"], p["durationMs"]["triggerExecution"] / 1000)
                                       for p in stream.progress if p["numInputRows"]])
        runs.append(stream)
    except StreamFailed as exc:
        run.fail("open", str(exc))
    t_end = time.perf_counter() + seconds * (1 - OPEN_SHARE)
    for i in range(MAX_DRAINS):
        if len(out.passes) >= MIN_DRAINS and time.perf_counter() >= t_end:
            break
        run.attempted += 1
        meter = Meter()
        try:
            stream = _run(run, f"drain{i}", backlog)
        except StreamFailed as exc:
            run.fail(f"drain{i}", str(exc))
            continue
        cpu, steal = meter.read()
        out.add_pass(stream.wall_s, stream.wall_s * (1 - steal), cpu)
        out.extra.setdefault("progress", []).extend(stream.progress)
        runs.append(stream)
    run.tracer.stop_timing()
    out.extra["backlog_rows"] = BACKLOG_SLICES * BACKLOG_ROWS
    refs = {}
    for stream in runs:
        if stream.src_dir not in refs:
            refs[stream.src_dir] = expected(run, stream.src_dir)
        verify(run, stream, refs[stream.src_dir])
    return out


_DURATIONS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.get_batch_s": "getBatch",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


def stream_ledger(samples: Samples) -> dict[str, tuple[float, str]]:
    """Streaming layer from the engine's own progress reports (per
    micro-batch medians over batches that read rows) plus the
    generator's lag and lateness. Zero on the batch workloads, where
    no stream runs."""
    import statistics

    extra = samples.extra
    progress = extra.get("progress", [])
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    out = {
        name: (med(p["durationMs"].get(key, 0) / 1000 for p in data), "s")
        for name, key in _DURATIONS.items()
    }
    out.update({
        "streaming.batches": (len(progress), "count"),
        "streaming.empty_batch_frac": (
            (len(progress) - len(data)) / len(progress) if progress else 0.0, "ratio"),
        "streaming.state_rows": (max((o["numRowsTotal"] for o in ops), default=0), "count"),
        "streaming.state_mem_bytes": (max((o["memoryUsedBytes"] for o in ops), default=0), "bytes"),
        "streaming.state_commit_s": (med(o["commitTimeMs"] / 1000 for o in ops), "s"),
        "streaming.state_update_s": (med(o["allUpdatesTimeMs"] / 1000 for o in ops), "s"),
        "streaming.source_lag_rows": (med(extra.get("source_lag_rows", [])), "count"),
        "gen.late_s": (extra.get("gen_late_s", 0.0), "s"),
    })
    return out
