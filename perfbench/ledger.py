"""Per-layer ledger recorded from outside the program.

Every unit of work (one query execution, one stream run) runs under a
Spark job group `<unit>:<phase>` set by the benchmark, so the jobs,
stages and SQL executions in Spark's own status stores can be summed
per phase afterwards. With tracing on, the benchmark also times its
calls into `sources.parquet.load_df` (wrapped, phase `load`), the query
function (`build`), plan forcing (`plan`) and the sink write (`exec`).
The stores work with `spark.ui.enabled=false`; no listener is needed.
"""

from __future__ import annotations

import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import aggregate_stages, merge_totals, parse_sql_metric

PHASES = ("load", "build", "plan", "exec")
_PY_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows_received",
}
_EXCHANGE = re.compile(r"^[\s:+\-|]*\w*Exchange\b", re.M)


def phase_of(group: str | None) -> str:
    """Phase of a job group; jobs outside the benchmark's groups (the
    stream engine's micro-batches) are execution."""
    suffix = (group or "").rpartition(":")[2]
    return suffix if suffix in PHASES else "exec"


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Job-group tagging (always) and the per-layer ledger (when
    `enabled`). Counters accumulate over the timed region, which starts
    at `start_timing()`; work before it (the checked warm-up) is
    drained from the stores and not counted."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.unit = "setup"
        self.load_calls = 0
        self.load_s = 0.0
        self.wall = defaultdict(float)
        self.exchanges = 0
        self.python = defaultdict(float)
        self.phases: dict[str, dict[str, float]] = {}
        self._job_mark = -1
        self._exec_mark = -1
        self._counting = False
        if enabled:
            self._wrap_loader()

    # -- job groups -------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    @contextmanager
    def phase(self, unit: str, phase: str):
        """Run a phase of `unit` under its job group, timing it when
        tracing. Untraced runs tag the unit only, for cancellation."""
        self.unit = unit
        self._set_group(f"{unit}:{phase}" if self.enabled else unit)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._counting:
                self.wall[phase] += time.perf_counter() - t0
            self._set_group(None)

    def _wrap_loader(self) -> None:
        import table_computing_spark.sources.parquet as parquet

        original = parquet.load_df

        def load_df(spark, sf_dir, name):
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self._set_group(f"{self.unit}:load")
            t0 = time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                if self._counting:
                    self.load_s += time.perf_counter() - t0
                    self.load_calls += 1
                self._set_group(prev)

        for mod in list(sys.modules.values()):
            if getattr(mod, "load_df", None) is original:
                setattr(mod, "load_df", load_df)

    # -- plans ----------------------------------------------------------
    def force_plan(self, df) -> None:
        """Force physical planning of a batch DataFrame and count its
        exchanges (the AQE initial plan: what Catalyst chose up front)."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        if self._counting:
            self.exchanges += len(_EXCHANGE.findall(plan))

    # -- status stores --------------------------------------------------
    def start_timing(self) -> None:
        self.harvest()
        self._counting = True

    def stop_timing(self) -> None:
        self.harvest()
        self._counting = False

    def harvest(self) -> None:
        """Pull jobs, stages and SQL executions that finished since the
        last harvest. Call it after each unit so nothing ages out of the
        stores' retention (1000 jobs / executions by default)."""
        if not self.enabled:
            return
        store = self.sc._jsc.sc().statusStore()
        jobs, stages = [], {}
        for jd in _seq(store.jobsList(None)):
            jid = jd.jobId()
            if jid <= self._job_mark:
                continue
            group = jd.jobGroup()
            sids = [int(s) for s in _seq(jd.stageIds())]
            jobs.append({"job_id": jid, "group": group.get() if group.isDefined() else None,
                         "stage_ids": sids})
            for sid in sids:
                if sid not in stages:
                    stages[sid] = _stage(store, sid)
        if jobs:
            self._job_mark = max(j["job_id"] for j in jobs)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        py = defaultdict(float)
        for ex in _seq(sql.executionsList()):
            eid = ex.executionId()
            if eid <= self._exec_mark or not ex.completionTime().isDefined():
                continue
            self._exec_mark = max(self._exec_mark, eid)
            _python_metrics(sql, eid, py)
        if not self._counting:
            return
        for phase, totals in aggregate_stages(jobs, stages, phase_of).items():
            merge_totals(self.phases.setdefault(phase, {}), totals)
        for k, v in py.items():
            self.python[k] += v

    def ledger(self, units: int, cores: int) -> dict[str, tuple[float, str]]:
        """Per-layer metrics, sums divided by `units`."""
        ph = {p: self.phases.get(p, {}) for p in PHASES}

        def total(key: str, phases=PHASES) -> float:
            return sum(ph[p].get(key, 0) for p in phases)

        ex = ph["exec"]
        exec_wall = self.wall["exec"]
        build_s = self.wall["build"] - self.load_s
        unit_s = sum(self.wall[p] for p in ("build", "plan", "exec"))
        per = 1.0 / units
        return {
            "sources.load_calls": (self.load_calls * per, "count"),
            "sources.load_s": (self.load_s * per, "s"),
            "sources.load_jobs": (ph["load"].get("jobs", 0) * per, "count"),
            "sources.input_bytes": (total("inputBytes") * per, "bytes"),
            "sources.input_rows": (total("inputRecords") * per, "count"),
            "operators.build_s": (build_s * per, "s"),
            "operators.build_jobs": (ph["build"].get("jobs", 0) * per, "count"),
            "operators.build_share": (self.wall["build"] / unit_s if unit_s else 0.0, "ratio"),
            "plans.plan_s": (self.wall["plan"] * per, "s"),
            "plans.exchanges": (self.exchanges * per, "count"),
            "exec.wall_s": (exec_wall * per, "s"),
            "exec.jobs": (ex.get("jobs", 0) * per, "count"),
            "exec.stages": (ex.get("stages", 0) * per, "count"),
            "exec.tasks": (ex.get("numCompleteTasks", 0) * per, "count"),
            "exec.failed_tasks": (ex.get("numFailedTasks", 0) * per, "count"),
            "exec.run_s": (ex.get("executorRunTime", 0) * per, "s"),
            "exec.cpu_s": (ex.get("executorCpuTime", 0) * per, "s"),
            "exec.gc_s": (ex.get("jvmGcTime", 0) * per, "s"),
            "exec.busy_frac": (
                ex.get("executorRunTime", 0) / (exec_wall * cores) if exec_wall else 0.0, "ratio"),
            "exec.shuffle_read_bytes": (ex.get("shuffleReadBytes", 0) * per, "bytes"),
            "exec.shuffle_write_bytes": (ex.get("shuffleWriteBytes", 0) * per, "bytes"),
            "exec.spill_bytes": (
                (ex.get("memoryBytesSpilled", 0) + ex.get("diskBytesSpilled", 0)) * per, "bytes"),
            "exec.peak_mem_bytes": (ex.get("peakExecutionMemory", 0), "bytes"),
            "python.run_s": (self.python["run_s"] * per, "s"),
            "python.boot_s": (self.python["boot_s"] * per, "s"),
            "python.init_s": (self.python["init_s"] * per, "s"),
            "python.bytes_sent": (self.python["bytes_sent"] * per, "bytes"),
            "python.bytes_received": (self.python["bytes_received"] * per, "bytes"),
            "python.rows_received": (self.python["rows_received"] * per, "count"),
        }


def _stage(store, sid: int) -> dict:
    sd = store.lastStageAttempt(sid)
    out = {"status": sd.status().toString()}
    for name in ("executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
                 "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
                 "numCompleteTasks", "numFailedTasks", "inputBytes", "inputRecords",
                 "peakExecutionMemory"):
        out[name] = int(getattr(sd, name)())
    return out


def _python_metrics(sql, eid: int, out: dict) -> None:
    """Add PythonSQLMetrics of every Python-evaluating node of SQL
    execution `eid` (a node that sent data to Python workers)."""
    values = sql.executionMetrics(eid)
    for node in _seq(sql.planGraph(eid).allNodes()):
        named = {}
        for m in _seq(node.metrics()):
            v = values.get(m.accumulatorId())
            if v.isDefined():
                named[m.name()] = v.get()
        if "data sent to Python workers" not in named:
            continue
        for name, key in _PY_METRICS.items():
            if name in named:
                out[key] += parse_sql_metric(named[name])
