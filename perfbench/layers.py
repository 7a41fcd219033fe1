"""Per-layer metrics of a traced run: spans, manifest diffs, standalone
materializations, read-side scan stats and the Spark event log.

Every metric is the median over the traced batches of the run where the
layer ran (compacting batches count for ``laketable.compact_deltas_s``
only); a layer that never ran on this workload's path reads 0 in the
record. The result line carries the subset that every workload exercises
(PER_LAYER_LINE); the record carries the full table (README.md).
"""

from __future__ import annotations

import os

import stats
import tracing

UNITS = {
    "replay.run_batch_s": "s", "replay.self_s": "s",
    "replay.driver_idle_s": "s",
    "apply.apply_batch_s": "s",
    "merge.merge_apply_s": "s", "merge.prepass_s": "s",
    "merge.merge_apply_mor_s": "s", "merge.apply_s": "s", "merge.self_s": "s",
    "merge.jobs": "count",
    "lww.dedup_s": "s", "lww.rows_in": "rows", "lww.rows_out": "rows",
    "lww.keep_ratio": "ratio",
    "kafka_tail.decode_s": "s",
    "laketable.replace_files_s": "s", "laketable.append_delta_s": "s",
    "laketable.compact_deltas_s": "s", "laketable.write_s": "s",
    "laketable.commit_s": "s",
    "laketable.files_added": "files", "laketable.files_removed": "files",
    "laketable.files_kept": "files", "laketable.bytes_written": "bytes",
    "laketable.rows_written_per_event": "ratio",
    "laketable.scan_files_read": "files", "laketable.lookup_files_read": "files",
    "laketable.lookup_rows_read_per_hit": "ratio",
    "laketable.delta_files_live": "files", "laketable.bytes_live": "bytes",
    "checkpoint.commit_s": "s", "checkpoint.is_committed_s": "s",
    "session.start_s": "s",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_busy_frac": "ratio",
    "trace.events_per_s_traced": "events/s",
    "trace.events_per_s_untraced": "events/s",
}

# The result line keeps what every workload exercises and an optimisation
# can move. Record only: layers off some workload's path (copy-on-write vs
# merge-on-read, deltas, spills; merge.apply_s, merge.self_s and
# laketable.write_s are their path-independent forms), Kafka decode (off
# restate's path) and the dedup row counts, which the inputs fix.
PER_LAYER_LINE = [k for k in UNITS if k not in {
    "merge.merge_apply_s", "merge.prepass_s", "merge.merge_apply_mor_s",
    "kafka_tail.decode_s", "laketable.replace_files_s",
    "laketable.append_delta_s", "laketable.compact_deltas_s",
    "laketable.files_removed", "laketable.files_kept",
    "laketable.delta_files_live", "spark.spill_bytes",
    "lww.rows_in", "lww.rows_out", "lww.keep_ratio"}]

# span name -> (duration metric, self-time metric or None)
_SPAN_METRICS = {
    "replay.run_batch": ("replay.run_batch_s", "replay.self_s"),
    "apply.apply_batch": ("apply.apply_batch_s", None),
    "merge.merge_apply": ("merge.merge_apply_s", "merge.prepass_s"),
    "merge.merge_apply_mor": ("merge.merge_apply_mor_s", None),
    "laketable.replace_files": ("laketable.replace_files_s", None),
    "laketable.append_delta": ("laketable.append_delta_s", None),
    "laketable.compact_deltas": ("laketable.compact_deltas_s", None),
    "checkpoint.commit": ("checkpoint.commit_s", None),
    "checkpoint.is_committed": ("checkpoint.is_committed_s", None),
}


def _per_batch(rp, spans, jobs, tasks, cores) -> list[dict]:
    out = []
    for row in rp.rec["batches"]:
        if not row["traced"]:
            continue
        b = row["batch"]
        mine = [s for s in spans if s["batch"] == b]
        one: dict = {"compacts": row["compacts"]}
        for s in mine:
            dur_k, self_k = _SPAN_METRICS[s["name"]]
            one[dur_k] = one.get(dur_k, 0.0) + s["dur"]
            if self_k:
                one[self_k] = one.get(self_k, 0.0) + s["self"]
        merges = [s for s in mine if s["name"].startswith("merge.")]
        if merges:
            one["merge.apply_s"] = sum(s["dur"] for s in merges)
            one["merge.self_s"] = sum(s["self"] for s in merges)
            one["merge.jobs"] = sum(
                tracing.window_stats(jobs, tasks, s["start"], s["end"],
                                     cores)["jobs"] for s in merges)
        writes = [s for s in mine if s["name"] in (
            "laketable.replace_files", "laketable.append_delta")]
        if writes:
            one["laketable.write_s"] = sum(s["dur"] for s in writes)
        one["laketable.commit_s"] = row["snapshot_commit_s"]
        before, after = row["files_before"], row["files_after"]
        added = [after[p] for p in after if p not in before]
        one["laketable.files_added"] = len(added)
        one["laketable.files_removed"] = sum(1 for p in before if p not in after)
        one["laketable.files_kept"] = sum(1 for p in before if p in after)
        one["laketable.bytes_written"] = sum(x[1] for x in added)
        one["laketable.rows_written_per_event"] = (
            sum(x[0] for x in added) / row["events"])
        w = tracing.window_stats(jobs, tasks, row["handoff"], row["committed"],
                                 cores)
        one["replay.driver_idle_s"] = w["idle_s"]
        for k in ("jobs", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "executor_busy_frac"):
            one[f"spark.{k}"] = w[k]
        out.append(one)
    return out


def _rate(rows: list[dict]) -> float | None:
    """Sustained events/s over `rows`."""
    wall = sum(r["step_s"] for r in rows)
    return sum(r["events"] for r in rows) / wall if wall else None


def _overhead_rows(rows: list[dict], traced: bool) -> list[dict]:
    """One side of the traced/untraced comparison. The window's first
    batch (the coldest of a warming JVM, always untraced) and compacting
    batches (always traced) would each load one side only, so both are
    left out; with batches 1 and 3 traced and 2 not, a linear warm-up
    trend then cancels."""
    return [r for r in rows[1:] if r["traced"] == traced and not r["compacts"]]


def per_layer(rp, standalone: list[dict], run_dir: str) -> tuple[dict, dict]:
    import host

    jobs, tasks = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
    batches = _per_batch(rp, rp.tracer.with_self_times(), jobs, tasks,
                         host.cpus())
    # a compacting batch is a different animal: it feeds compact_deltas_s
    # only, the other per-batch metrics describe the plain batches
    plain = [b for b in batches if not b["compacts"]] or batches
    vals: dict = {}
    for k in UNITS:
        src = batches if k == "laketable.compact_deltas_s" else plain
        xs = [b[k] for b in src if k in b]
        vals[k] = stats.median(xs) if xs else 0.0
    for src, dst in (("dedup_s", "lww.dedup_s"), ("rows_in", "lww.rows_in"),
                     ("rows_out", "lww.rows_out"),
                     ("decode_s", "kafka_tail.decode_s")):
        xs = [s[src] for s in standalone if src in s]
        vals[dst] = stats.median(xs) if xs else 0.0
    ratios = [s["rows_out"] / s["rows_in"] for s in standalone if s["rows_in"]]
    vals["lww.keep_ratio"] = stats.median(ratios) if ratios else 0.0
    rs = rp.rec["read_stats"]
    for k in ("scan_files_read", "lookup_files_read",
              "lookup_rows_read_per_hit", "delta_files_live", "bytes_live"):
        vals[f"laketable.{k}"] = rs[k] if rs[k] is not None else 0.0
    vals["session.start_s"] = rp.rec["session_start_s"]
    rows = rp.rec["batches"]
    vals["trace.events_per_s_traced"] = _rate(
        _overhead_rows(rows, True)) or 0.0
    vals["trace.events_per_s_untraced"] = _rate(
        _overhead_rows(rows, False)) or 0.0
    full = {k: {"value": vals[k], "unit": UNITS[k]} for k in UNITS}
    line = {k: full[k] for k in PER_LAYER_LINE}
    return line, full
