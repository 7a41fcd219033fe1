"""Toy-size smoke of every workload, untraced and traced.

    python3 perfbench/smoke.py [workload ...]

Asserts, per run: exit code 0; a last stdout line with exactly the
four result keys; the correctness gate passed; every metric BENCHMARK.json
names appears with its unit and a numeric value; the record carries every
end-to-end and per-layer metric README.md names, with units. Takes a few
minutes (one Spark session per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _expected(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def _check(workload: str, trace: int) -> list[str]:
    seed = 7
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    errs = []
    line = json.loads(p.stdout.strip().splitlines()[-1])
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"last-line keys {sorted(line)}")
    if not line["correct"] or line["failed"] or line["attempted"] < 1:
        errs.append(f"gate: correct={line['correct']} failed={line['failed']}")
    want = _expected(trace)
    if set(line["metrics"]) != set(want):
        errs.append(f"metric names differ: {set(line['metrics']) ^ set(want)}")
    for k, v in line["metrics"].items():
        if v.get("unit") != want.get(k):
            errs.append(f"{k}: unit {v.get('unit')!r}, want {want.get(k)!r}")
        if isinstance(v.get("value"), bool) \
                or not isinstance(v.get("value"), (int, float)):
            errs.append(f"{k}: value {v.get('value')!r}")
    with open(os.path.join(ROOT, ".perfbench", "records",
                           f"{workload}-s{seed}-t{trace}.json")) as f:
        rec = json.load(f)
    named = {**run.E2E_UNITS, **run.RECORD_UNITS}
    if trace:
        named.update(layers.UNITS)
    got = {**rec["e2e"], **rec.get("per_layer", {})}
    for k, unit in named.items():
        if k not in got or got[k]["unit"] != unit:
            errs.append(f"record lacks {k} [{unit}]")
    bad = [k for k, c in rec["gate"].items() if not c["ok"]]
    if bad:
        errs.append(f"gate checks failed: {bad}")
    return errs


def main(argv: list[str]) -> int:
    failed = 0
    for w in argv or workloads.WORKLOADS:
        for trace in (0, 1):
            errs = _check(w, trace)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}")
            for e in errs:
                print(f"  {e}")
            failed += bool(errs)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
