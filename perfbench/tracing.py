"""Traced mode: spans around the engine's public layer entry points, plus
per-window Spark counters from the session's event log.

Each wrapper replaces a public function at the name its caller resolves
(``replay.apply_batch`` is what ``run_batch`` calls, ``apply.merge_apply``
what ``apply_batch`` calls, methods on their class). Spans are kept in
memory (name, start, end, parent, batch id) and written out when the run
ends. Nothing inside the engine is instrumented.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import time

_PKG = "embulk_output_databricks_spark"
# (module, class or None, attribute, span name)
LAYERS = [
    (f"{_PKG}.streaming.replay", None, "apply_batch", "apply.apply_batch"),
    (f"{_PKG}.plans.apply", None, "merge_apply", "merge.merge_apply"),
    (f"{_PKG}.plans.apply", None, "merge_apply_mor", "merge.merge_apply_mor"),
    (f"{_PKG}.sources.laketable", "LakeTable", "replace_files",
     "laketable.replace_files"),
    (f"{_PKG}.sources.laketable", "LakeTable", "append_delta",
     "laketable.append_delta"),
    (f"{_PKG}.sources.laketable", "LakeTable", "compact_deltas",
     "laketable.compact_deltas"),
    (f"{_PKG}.streaming.checkpoint", "CheckpointStore", "commit",
     "checkpoint.commit"),
    (f"{_PKG}.streaming.checkpoint", "CheckpointStore", "is_committed",
     "checkpoint.is_committed"),
]


class Tracer:
    """Span recorder for the benchmark's single driver thread. `enabled`
    gates recording per batch, so one run can interleave traced and
    untraced batches."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.batch: int | None = None
        self.enabled = False
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "batch": self.batch})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for mod, cls, attr, name in LAYERS:
            owner = importlib.import_module(mod)
            if cls:
                owner = getattr(owner, cls)
            orig = owner.__dict__[attr]
            setattr(owner, attr, self._wrap(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def with_self_times(self) -> list[dict]:
        """Spans plus `dur` and `self` (duration minus the time its direct
        children cover; children of one span never overlap, since the
        benchmark calls the engine from one thread)."""
        out = [dict(s, dur=s["end"] - s["start"]) for s in self.spans]
        child = [0.0] * len(out)
        for s in out:
            if s["parent"] is not None:
                child[s["parent"]] += s["dur"]
        for s, c in zip(out, child):
            s["self"] = s["dur"] - c
        return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(event_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the single finished application log in
    `event_dir`; times in epoch seconds."""
    paths = [p for p in glob.glob(f"{event_dir}/*")
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log, got {paths}")
    jobs: dict[int, dict] = {}
    tasks = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3,
                                      "end": None}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                tasks.append({
                    "start": info["Launch Time"] / 1e3,
                    "end": info["Finish Time"] / 1e3,
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    return [j for j in jobs.values() if j["end"] is not None], tasks


def window_stats(jobs: list[dict], tasks: list[dict], start: float,
                 end: float, cores: int) -> dict:
    """Spark work attributed to one wall window: jobs by submission time,
    tasks by launch time (the loop is serial, so windows do not overlap).
    `idle_s` is the part of the window with no running job."""
    wj = [j for j in jobs if start <= j["start"] <= end]
    wt = [t for t in tasks if start <= t["start"] <= end]
    covered = _union_len([(max(j["start"], start), min(j["end"], end))
                          for j in jobs
                          if j["end"] >= start and j["start"] <= end])
    wall = end - start
    return {
        "jobs": len(wj),
        "tasks": len(wt),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in wt),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in wt),
        "spill_bytes": sum(t["spill"] for t in wt),
        "executor_busy_frac": (sum(t["end"] - t["start"] for t in wt)
                               / (wall * cores) if wall > 0 else 0.0),
        "idle_s": max(wall - covered, 0.0),
    }
