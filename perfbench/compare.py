"""Summarise or compare captured benchmark runs.

    python3 perfbench/compare.py runs.jsonl              # spread per metric
    python3 perfbench/compare.py base.jsonl new.jsonl    # bounds check

A capture file holds the standard output of repeated runs of
perfbench/run.py (its record line and result line per run). Runs are
grouped by workload and trace mode. With one file, each end-to-end
metric's median and quartile spread are printed against its bound;
with two, `new` is checked against `base` with BENCHMARK.json's bounds
(exit code 1 on any finding), and captures taken at different core
counts are refused. The traced minus untraced pass time of one file is
its tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

from stats import check_bounds, comparable, spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict:
    """{(workload, trace): {"env": env, "metrics": {name: [values]}}}"""
    runs: dict = defaultdict(lambda: {"env": None, "metrics": defaultdict(list)})
    record = None
    with open(path) as f:
        for line in f:
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "perfbench" in obj:
                record = obj["perfbench"]
                continue
            if record is None:
                continue
            key = (record["workload"], record["trace"])
            group = runs[key]
            if group["env"] is not None:
                comparable(group["env"], record["env"])
            group["env"] = record["env"]
            for name, value in record["end_to_end"].items():
                group["metrics"][name].append(value)
            record = None
    return runs


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    base = load(argv[0])
    if len(argv) == 1:
        for (workload, trace), group in sorted(base.items()):
            print(f"{workload} trace={trace} ({len(group['metrics']['pass_s'])} runs)")
            for m in e2e:
                vals = group["metrics"].get(m["name"], [])
                if len(vals) < 2:
                    continue
                sp = spread(vals)
                print(f"  {m['name']:16s} median {statistics.median(vals):10.4f} {m['unit']:3s} "
                      f"spread {sp:6.1%}  bound {m['bound']:.0%}  ({sp / m['bound']:.2f} of bound)")
        for workload in sorted({w for w, _ in base}):
            if (workload, 0) in base and (workload, 1) in base:
                off = statistics.median(base[(workload, 0)]["metrics"]["pass_s"])
                on = statistics.median(base[(workload, 1)]["metrics"]["pass_s"])
                print(f"{workload}: tracing overhead {on - off:+.3f} s per pass ({(on - off) / off:+.1%})")
        return 0
    new = load(argv[1])
    failed = False
    for key in sorted(set(base) | set(new)):
        if key not in base or key not in new:
            print(f"{key[0]} trace={key[1]}: only in one capture")
            failed = True
            continue
        comparable(base[key]["env"], new[key]["env"])
        findings = check_bounds(e2e, base[key]["metrics"], new[key]["metrics"])
        print(f"{key[0]} trace={key[1]}: {'ok' if not findings else 'FAIL'}")
        for finding in findings:
            print(f"  {finding}")
        failed |= bool(findings)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
