"""Pure helpers of the benchmark: percentiles, latency from due time,
stage-metric aggregation by phase, Spark SQL metric parsing, and the
bounds check that compares two sets of runs. No Spark import here, so
the helpers are testable without a session."""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Mapping, Sequence

# Stage fields summed per phase (AppStatusStore StageData getters) and
# the scale that turns each into the unit the ledger reports.
STAGE_SUMS = {
    "executorRunTime": 1e-3,  # ms -> s
    "executorCpuTime": 1e-9,  # ns -> s
    "jvmGcTime": 1e-3,  # ms -> s
    "shuffleReadBytes": 1,
    "shuffleWriteBytes": 1,
    "memoryBytesSpilled": 1,
    "diskBytesSpilled": 1,
    "numCompleteTasks": 1,
    "numFailedTasks": 1,
    "inputBytes": 1,
    "inputRecords": 1,
}
STAGE_MAXES = ("peakExecutionMemory",)


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int, beyond: int = 10) -> int | None:
    """Highest whole percentile with at least `beyond` of `n` samples
    above it, or None when `n` cannot support one above the median's
    floor (n <= beyond)."""
    if n <= beyond:
        return None
    return math.floor(100 * (n - beyond) / n)


def query_latency(by_query: Mapping[str, Sequence[float]]) -> tuple[float, float]:
    """Typical and slowest latency of a closed-loop query list: the
    geometric mean and the maximum of each query's median latency. The
    median of the pooled samples of a few queries of different cost
    lands on whichever query sits in the middle and jumps between
    queries as the sample count moves; per-query medians do not."""
    medians = [statistics.median(v) for v in by_query.values() if v]
    if not medians:
        raise ValueError("latency of no queries")
    return math.exp(statistics.fmean(math.log(m) for m in medians)), max(medians)


def batch_latencies(batches: Sequence[tuple[int, int]], slices: Sequence[tuple[int, int]]) -> list[float]:
    """Per-row latency in seconds: when the row's micro-batch finished
    minus when the generator was due to emit the row (not when it did),
    so a generator or engine stall is charged to every row it delays.
    `batches` are (rows, end_ns) in batch order and `slices` (rows,
    due_ns) in the order the source admits them; every batch must
    consume whole slices."""
    out: list[float] = []
    todo = list(slices)
    for rows, end_ns in batches:
        while rows > 0:
            if not todo or todo[0][0] > rows:
                raise ValueError("micro-batch boundaries do not fall between slices")
            n, due_ns = todo.pop(0)
            if end_ns < due_ns:
                raise ValueError(f"batch ended at {end_ns} before its rows were due at {due_ns}")
            out.extend([(end_ns - due_ns) / 1e9] * n)
            rows -= n
    if todo:
        raise ValueError(f"{len(todo)} slices never reached a micro-batch")
    return out


def source_lag(batches: Sequence[tuple[int, int]], slices: Sequence[tuple[int, int]]) -> list[int]:
    """Rows offered but not yet through a finished micro-batch, at each
    slice's due time."""
    lag, offered = [], 0
    for rows, due_ns in slices:
        offered += rows
        lag.append(offered - sum(n for n, end in batches if end <= due_ns))
    return lag


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine's vCPUs wanted that the
    hypervisor gave to other guests, between two (steal, busy) readings
    of /proc/stat. On a contended host a CPU-bound interval takes
    wall / (1 - share); wall x (1 - share) is what it takes on a quiet one."""
    steal, busy = after[0] - before[0], after[1] - before[1]
    return steal / (steal + busy) if steal + busy > 0 else 0.0


def worst_steal_share(before: Sequence[tuple[int, int]], after: Sequence[tuple[int, int]]) -> float:
    """Steal share (steal_share) of the vCPU the hypervisor stole from
    most, between two per-vCPU readings. A pass waits for its slowest
    parallel part, so a stall on one vCPU holds up the whole stage:
    wall x (1 - the worst share) follows the time a quiet host takes
    more closely than the machine-wide share does."""
    return max((steal_share(a, b) for a, b in zip(before, after)), default=0.0)


def aggregate_stages(
    jobs: Iterable[Mapping], stages: Mapping[int, Mapping], phase_of
) -> dict[str, dict[str, float]]:
    """Sum stage metrics per phase. `jobs` are {"job_id", "group",
    "stage_ids"}; `stages` maps stage id -> {"status", <StageData
    fields>}; `phase_of(group)` names the phase a job group belongs to.
    A stage counts once, in the phase of the first job that lists it
    (a later job that reuses its shuffle output skips it), and skipped
    stages count nowhere."""
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    for job in sorted(jobs, key=lambda j: j["job_id"]):
        phase = phase_of(job["group"])
        acc = out.setdefault(phase, _empty_totals())
        acc["jobs"] += 1
        for sid in job["stage_ids"]:
            st = stages.get(sid)
            if sid in seen or st is None or st["status"] == "SKIPPED":
                continue
            seen.add(sid)
            acc["stages"] += 1
            for k, scale in STAGE_SUMS.items():
                acc[k] += st.get(k, 0) * scale
            for k in STAGE_MAXES:
                acc[k] = max(acc[k], st.get(k, 0))
    return out


def _empty_totals() -> dict[str, float]:
    return {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_SUMS}, **{k: 0 for k in STAGE_MAXES}}


def merge_totals(a: dict[str, float], b: Mapping[str, float]) -> dict[str, float]:
    """Fold one phase's totals into another (sums add, maxes max)."""
    for k, v in b.items():
        a[k] = max(a.get(k, 0), v) if k in STAGE_MAXES else a.get(k, 0) + v
    return a


_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a Spark SQL metric as the SQL status store formats it:
    '100,000', '1.5 s', '585.8 KiB', or the per-task form
    'total (min, med, max ...)\\n585.8 KiB (...)'. Sizes come back in
    bytes, timings in seconds."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(body)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNITS.get(unit, 1)


def spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles' default exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def check_bounds(
    metrics: Sequence[Mapping], base: Mapping[str, Sequence[float]],
    new: Mapping[str, Sequence[float]],
) -> list[str]:
    """Findings that make `new` fail against `base` for one workload:
    `metrics` are BENCHMARK.json's end_to_end entries; `base` and `new`
    map metric name -> values of repeated runs. A metric fails when its
    new median is worse than the base median by more than its bound,
    or (except setup_s, whose spread is set-up noise) when either
    side's own spread exceeds the bound."""
    findings = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        b, n = base.get(name), new.get(name)
        if not b or not n:
            findings.append(f"{name}: missing values")
            continue
        mb, mn = statistics.median(b), statistics.median(n)
        worse = (mn - mb) / mb if m["better"] == "lower" else (mb - mn) / mb
        if worse > bound:
            findings.append(f"{name}: median {mb:.4g} -> {mn:.4g} is {worse:+.1%} worse, bound {bound:.0%}")
        if name != "setup_s":
            for side, vals in (("base", b), ("new", n)):
                if len(vals) >= 2 and spread(vals) > bound:
                    findings.append(f"{name}: {side} spread {spread(vals):.1%} exceeds bound {bound:.0%}")
    return findings


def comparable(env_a: Mapping, env_b: Mapping) -> None:
    """Refuse to compare results taken at different core counts: plans
    (partition counts) and totals depend on the cores Spark runs on."""
    for key in ("nproc", "spark_graft_cpus"):
        if env_a.get(key) != env_b.get(key):
            raise ValueError(
                f"results are not comparable: {key} {env_a.get(key)!r} vs {env_b.get(key)!r}"
            )
