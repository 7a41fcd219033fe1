"""Checkpointed MERGE replay benchmark.

    python3 perfbench/run.py --workload restate --seed 1 --seconds 15 --trace 0

Runs one closed-loop workload (see workloads.py and README.md) against the
engine in this checkout and prints, as the last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end set; with --trace 1 a separate traced run
reports the per-layer set. The full record (host facts, per-batch walls,
every metric the README names, gate details) goes to
.perfbench/records/<workload>-s<seed>-t<trace>.json.

All files the run writes stay under .perfbench/ in the checkout; the run's
inputs, warehouse and Spark scratch are deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "embulk_output_databricks_spark"

import host  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "commit_p50_s": "s",
    "bytes_per_live_row": "B/row",
}
# Reported in the record, not in the result line. The mor_mixed read
# metrics are absent on restate, and their per-commit samples spread up to
# ~25% of the median across seeds on the reference host; their cost still
# gates through mor_mixed's events_per_s, whose window holds the reads.
# Peak RSS follows the JVM's heap-growth timing (spread ~20%); failed_frac
# is 0 on a healthy run; a tail exists only with >= 11 samples in a run.
RECORD_UNITS = {"scan_p50_s": "s", "scan_tail_s": "s", "lookup_p50_s": "s",
                "peak_rss_mib": "MiB", "failed_frac": "ratio",
                "commit_tail_s": "s"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["host", "toy"], default="host",
                   help="toy: tiny inputs for the smoke check")
    return p.parse_args(argv)


class Replay:
    """One closed-loop run: set-up, timed window, correctness gate."""

    def __init__(self, a, spec: workloads.Spec, run_dir: str):
        self.a, self.spec, self.run_dir = a, spec, run_dir
        self.inputs = os.path.join(run_dir, "inputs")
        self.batches: dict[int, tuple[int, int]] = {}
        rng = random.Random(a.seed)
        self.lookup_keys = [f"doc{i:08d}" for i in
                            rng.sample(range(spec.n_docs // 8), workloads.LOOKUP_KEYS)]
        self.tracer = None
        self.rec: dict = {"batches": [], "scans_s": [], "lookups_s": []}
        self.failed = 0
        self.attempted = 0

    # ---- inputs ----

    def binlog(self, b: int):
        from embulk_output_databricks_spark.schema import BINLOG_SCHEMA

        return self.spark.read.schema(BINLOG_SCHEMA).parquet(
            workloads.batch_dir(self.inputs, "binlog", b))

    def frames(self, b: int):
        from embulk_output_databricks_spark.sources.kafka_tail import \
            KAFKA_WIRE_SCHEMA

        return self.spark.read.schema(KAFKA_WIRE_SCHEMA).parquet(
            workloads.batch_dir(self.inputs, "frames", b))

    def events(self, b: int):
        """Batch b as the engine receives it: decoded Kafka frames for a
        Kafka workload, binlog parquet otherwise."""
        from embulk_output_databricks_spark.sources.kafka_tail import \
            parse_change_events

        if self.spec.kafka:
            return parse_change_events(self.frames(b))
        return self.binlog(b)

    # ---- reads ----

    def scan(self) -> float:
        t = time.perf_counter()
        self.driver.table.read().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def lookup(self) -> float:
        t = time.perf_counter()
        rows = self.driver.table.read(
            eq_filter={"doc_id": self.lookup_keys}).collect()
        self.rec["lookup_hits"] = len(rows)
        return time.perf_counter() - t

    def read_pair(self, keep: bool = True) -> None:
        """One scan and one lookup; `keep`: record their walls (False
        during warm-up, where only a failure counts)."""
        for fn, key in ((self.scan, "scans_s"), (self.lookup, "lookups_s")):
            self.attempted += 1
            try:
                s = fn()
                if keep:
                    self.rec[key].append(s)
            except Exception:
                traceback.print_exc()
                self.failed += 1

    # ---- phases ----

    def setup(self, trace: bool) -> None:
        """Session start, input generation (excluded from set-up time),
        then target seeding and warm-up batches."""
        import sparkenv

        t0 = time.perf_counter()
        self.spark = sparkenv.start(
            self.run_dir, f"perfbench-{self.spec.name}",
            event_log=os.path.join(self.run_dir, "eventlog") if trace else None)
        self.rec["session_start_s"] = time.perf_counter() - t0

        t = time.perf_counter()
        self.batches = {b: (lo, hi) for b, lo, hi in workloads.generate(
            self.spark, self.spec, self.a.seed,
            self.spec.pool(self.a.seconds), self.inputs)}
        self.rec["generate_s"] = time.perf_counter() - t
        t0 += self.rec["generate_s"]

        from embulk_output_databricks_spark.config import JobConfig
        from embulk_output_databricks_spark.sources.laketable import LakeCatalog
        from embulk_output_databricks_spark.streaming.replay import ReplayDriver

        cat = LakeCatalog(self.spark, os.path.join(self.run_dir, "warehouse"))
        cfg = JobConfig(table="sequences", mode="merge", merge_keys=["doc_id"],
                        n_buckets=workloads.N_BUCKETS,
                        merge_strategy=self.spec.strategy,
                        mor_compact_every=self.spec.compact_every)
        self.next_b = 0
        if self.spec.seed_events:
            # batch 0, the seed segment, through a driver of the same
            # config; a merge-on-read seed lands as a delta, is read the way
            # the window reads after a commit, then folded, so the window
            # starts from a compacted base with append, read and fold warm
            self.driver = ReplayDriver(cat, cfg)
            self.driver.run_batch(self.events(0), 0, collect_metrics="light")
            self.next_b = 1
            if self.spec.reads_per_commit:
                self.read_pair(keep=False)
            if self.spec.compact_every:
                self.driver.table.compact_deltas(
                    broadcast_threshold_rows=cfg.broadcast_merge_threshold)
        # the measured driver: its compaction count starts at set-up's end
        self.driver = ReplayDriver(cat, cfg)
        for _ in range(self.spec.warmup):
            self.driver.run_batch(self.events(self.next_b), self.next_b,
                                  collect_metrics="light")
            self.next_b += 1
            if self.spec.reads_per_commit:
                self.read_pair(keep=False)
        self.rec["setup_s"] = time.perf_counter() - t0

    def _compacts(self, i: int) -> bool:
        ce = self.spec.compact_every
        return bool(ce) and (self.spec.warmup + i + 1) % ce == 0

    def window(self) -> None:
        """The timed closed loop over the spec's fixed batch count."""
        spec, tr = self.spec, self.tracer
        t0 = time.perf_counter()
        for i in range(spec.timed(self.a.seconds)):
            b = self.next_b
            ev = self.events(b)
            traced = tr is not None and (i % 2 == 1 or self._compacts(i))
            row = {"batch": b, "events": self.batches[b][1] - self.batches[b][0],
                   "traced": traced, "compacts": self._compacts(i)}
            if traced:
                tr.enabled, tr.batch = True, b
                row["files_before"] = self._files()
            self.attempted += 1
            t_it = time.perf_counter()
            row["handoff"] = time.time()
            try:
                if traced:
                    with tr.span("replay.run_batch"):
                        rec = self.driver.run_batch(ev, b, collect_metrics="light")
                else:
                    rec = self.driver.run_batch(ev, b, collect_metrics="light")
            except Exception:
                traceback.print_exc()
                self.failed += 1
                break
            finally:
                row["committed"] = time.time()
                if tr is not None:
                    tr.enabled = False
            row["commit_s"] = row["committed"] - row["handoff"]
            row["snapshot_commit_s"] = rec["metrics"]["snapshot_commit_s"]
            if traced:
                row["files_after"] = self._files()
            self.next_b += 1
            if spec.reads_per_commit:
                self.read_pair()
            row["step_s"] = time.perf_counter() - t_it
            self.rec["batches"].append(row)
        self.rec["window_s"] = time.perf_counter() - t0
        self.rec["timed_events"] = sum(r["events"] for r in self.rec["batches"])

    def _files(self) -> dict:
        m = self.driver.table.manifest()
        return {f["path"]: (f.get("rows") or 0, f.get("bytes") or 0)
                for f in m.files}

    def post(self) -> None:
        import gate

        applied = list(range(self.next_b))
        dirs = [workloads.batch_dir(self.inputs, "binlog", b) for b in applied]
        self.attempted += 1
        checks = gate.check(self.driver, dirs, applied)
        self.rec["gate"] = checks
        if not all(c["ok"] for c in checks.values()):
            self.failed += 1
        st = self.driver.table.scan_stats()
        lk = self.driver.table.scan_stats(eq_filter={"doc_id": self.lookup_keys})
        if "lookup_hits" not in self.rec:
            self.lookup()  # untimed: the hit count for rows-read-per-hit
        hits = self.rec["lookup_hits"]
        live_rows = checks["state"]["actual_rows"]
        self.rec["read_stats"] = {
            "scan_files_read": st["files_read"],
            "lookup_files_read": lk["files_read"],
            "lookup_rows_read_per_hit": lk["rows_read"] / hits if hits else None,
            "delta_files_live": st["delta_files"],
            "bytes_live": st["bytes_live"],
            "live_rows": live_rows,
        }

    # ---- metrics ----

    def e2e(self) -> tuple[dict, dict]:
        r = self.rec
        commits = [b["commit_s"] for b in r["batches"]]
        rs = r["read_stats"]
        vals = {
            "setup_s": r["setup_s"],
            "events_per_s": r["timed_events"] / r["window_s"],
            "commit_p50_s": stats.median(commits),
            "bytes_per_live_row": (rs["bytes_live"] / rs["live_rows"]
                                   if rs["live_rows"] else None),
        }
        extra = {
            "scan_p50_s": stats.median(r["scans_s"]),
            "scan_tail_s": stats.tail(r["scans_s"]),
            "lookup_p50_s": stats.median(r["lookups_s"]),
            "peak_rss_mib": r["peak_rss_mib"],
            "failed_frac": self.failed / self.attempted,
            "commit_tail_s": stats.tail(commits),
        }
        return vals, extra


def _metric_block(vals: dict, units: dict) -> dict:
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    a = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package next to perfbench/; run from "
              "a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "run", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = workloads.spec_for(a.workload, a.scale)
    try:
        result = _run(a, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    rec_dir = os.path.join(work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    path = os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(path, "w") as f:
        json.dump(result["record"], f, indent=1, default=str)
    print(f"perfbench: record {os.path.relpath(path, ROOT)}")
    print("perfbench: " + json.dumps(result["summary"], default=str))
    print(json.dumps(result["line"]))
    return 0


def _run(a, spec, run_dir) -> dict:
    import dataclasses

    import sparkenv

    rp = Replay(a, spec, run_dir)
    record: dict = {"workload": a.workload, "seed": a.seed,
                    "seconds": a.seconds, "trace": a.trace, "scale": a.scale,
                    "spec": dataclasses.asdict(spec), "closed_loop_clients": 1}
    record["host"] = host.facts(run_dir)
    record["host"]["fsync_start"] = host.fsync_probe(run_dir)
    trace = bool(a.trace)
    if trace:
        import tracing

        rp.tracer = tracing.Tracer()
        rp.tracer.install()
    try:
        rp.setup(trace)
        spark = rp.spark
        record["host"].update({
            "java": spark._jvm.System.getProperty("java.version"),
            "spark": spark.version,
            "python": sys.version.split()[0],
            "master": spark.sparkContext.master,
            "memory_conf": host.memory_conf(),
            "warehouse": os.path.relpath(os.path.join(run_dir, "warehouse"), ROOT),
            "spark_local_dir": os.path.relpath(
                spark.conf.get("spark.local.dir"), ROOT),
        })
        rp.window()
        if trace:
            standalone = _standalone(rp)
        rp.post()
        rp.rec["peak_rss_mib"] = (host.vm_hwm_mib(sparkenv.jvm_pid(spark))
                                  + host.vm_hwm_mib())
    finally:
        if trace:
            rp.tracer.uninstall()
        if getattr(rp, "spark", None) is not None:
            sparkenv.stop(rp.spark)
    record["host"]["fsync_end"] = host.fsync_probe(run_dir)
    record.update(rp.rec)
    vals, extra = rp.e2e()
    correct = rp.failed == 0
    summary = {"workload": a.workload, "correct": correct,
               **{k: round(v, 6) if isinstance(v, float) else v
                  for k, v in vals.items()},
               **extra}
    record["e2e"] = {**_metric_block(vals, E2E_UNITS),
                     **{k: {"value": extra[k], "unit": u}
                        for k, u in RECORD_UNITS.items()}}
    if trace:
        import layers

        per_layer, full = layers.per_layer(rp, standalone, run_dir)
        record["per_layer"] = full
        record["spans"] = rp.tracer.with_self_times()
        metrics = per_layer
        summary = {"workload": a.workload, "correct": correct,
                   **{k: v["value"] for k, v in full.items()}}
    else:
        metrics = _metric_block(vals, E2E_UNITS)
    line = {"correct": correct, "attempted": rp.attempted,
            "failed": rp.failed, "metrics": metrics}
    return {"record": record, "summary": summary, "line": line}


def _standalone(rp: Replay) -> list[dict]:
    """Per traced batch, outside any timed wall: noop materializations of
    the LWW dedup (on the binlog parquet of the batch, so no decode is in
    it) and, for Kafka workloads, the wire decode."""
    from pyspark.sql import Observation, functions as F

    from embulk_output_databricks_spark.operators.lww import lww_dedup
    from embulk_output_databricks_spark.sources.kafka_tail import \
        parse_change_events

    out = []
    for row in rp.rec["batches"]:
        if not row["traced"]:
            continue
        b, one = row["batch"], {"batch": row["batch"]}
        obs_in, obs_out = Observation(f"in-{b}"), Observation(f"out-{b}")
        ev = rp.binlog(b).observe(obs_in, F.count(F.lit(1)).alias("n"))
        t = time.perf_counter()
        (lww_dedup(ev, keys=["doc_id"], order=["seq_lsn", "event_id"])
         .observe(obs_out, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        one["dedup_s"] = time.perf_counter() - t
        one["rows_in"], one["rows_out"] = obs_in.get["n"], obs_out.get["n"]
        if rp.spec.kafka:
            frames = rp.frames(b)
            t = time.perf_counter()
            parse_change_events(frames).write.format("noop") \
                .mode("overwrite").save()
            one["decode_s"] = time.perf_counter() - t
        out.append(one)
    return out


if __name__ == "__main__":
    sys.exit(main())
