"""Workload shapes and their seeded inputs.

Every workload is a closed loop of serial ``ReplayDriver.run_batch`` calls
(``collect_metrics="light"``): batch k+1 is handed over only after batch
k's fence commit returned. Inputs come from ``synth.synth_binlog`` (and,
for the Kafka workloads, ``kafka_tail.encode_kafka_frame``) and are written
to disk before any timing starts, so the engine receives only generated
files. Generation runs in the measured session, first, in every run: the
JVM warm-up it causes is then the same in every run.

Layout of one input set::

    binlog/bidx=0/   one directory of binlog parquet per batch (the form
                     tail_binlog_dir consumes; also what the DuckDB
                     correctness gate reads)
    frames/bidx=0/   Kafka wire frames of the same events, framed as one
                     stream so offsets run on across batches (Kafka
                     workloads)
"""

from __future__ import annotations

import dataclasses
import math
import os

N_BUCKETS = 32      # target bucket count, as in the replay job
LOOKUP_KEYS = 20    # keys per point lookup
DELETE_FRAC = 0.05  # share of tail events that are deletes


@dataclasses.dataclass(frozen=True)
class Spec:
    name: str
    batch_events: int       # events per replay batch
    n_docs: int             # key space
    seed_events: int        # events applied as batch 0 before the tail
                            # (0: the warehouse starts empty)
    warmup: int             # tail batches applied during set-up
    step_s: float           # loop step wall on the reference host (4 cores)
    hot_frac: float = 0.0
    strategy: str = "cow"
    compact_every: int = 0  # mor: fold deltas every N batches
    kafka: bool = False     # tail batches arrive as stored Kafka frames
    reads_per_commit: bool = False  # scan + lookup after every commit

    def timed(self, seconds: float) -> int:
        """Batches in the timed window: a fixed count per (workload,
        seconds), so every run measures the same work and its rate does
        not depend on how many batches happened to fit a wall-clock
        budget. The count fills `seconds` on the reference host and is
        rounded up to whole compaction cycles."""
        n = max(1, round(seconds / self.step_s))
        if self.compact_every:
            n = math.ceil(n / self.compact_every) * self.compact_every
        return n

    def pool(self, seconds: float) -> int:
        """Tail batches to generate: warm-up plus the timed window."""
        return self.warmup + self.timed(seconds)


def _specs(scale: str) -> dict[str, Spec]:
    if scale == "toy":
        return {
            "restate": Spec("restate", 4000, 2000, 0, 1, 0.5,
                            hot_frac=0.05),
            "steady_tail": Spec("steady_tail", 2000, 4000, 8000, 1, 0.5,
                                kafka=True),
            "mor_mixed": Spec("mor_mixed", 2000, 4000, 8000, 0, 0.5,
                              strategy="mor", compact_every=4, kafka=True,
                              reads_per_commit=True),
        }
    # host scale, sized on a 4-core / 15 GB host so one run (set-up,
    # window and gate) takes about a minute
    return {
        # the largest batches over the smallest key space: every batch
        # dedups a hot key and rewrites every bucket
        "restate": Spec("restate", 60_000, 30_000, 0, 1, 3.5,
                        hot_frac=0.05),
        # small batches into a seeded table: per-batch fixed cost and COW
        # write amplification dominate; wire decode is on the path
        "steady_tail": Spec("steady_tail", 25_000, 30_000, 60_000, 1, 3.3,
                            kafka=True),
        # merge-on-read appends from Kafka frames, a compaction every 4th
        # batch and a full scan + 20-key lookup after every commit; the
        # seed lands as a delta, is read and then folded, which warms every
        # path the window takes
        "mor_mixed": Spec("mor_mixed", 25_000, 30_000, 60_000, 0, 5.8,
                          strategy="mor", compact_every=4, kafka=True,
                          reads_per_commit=True),
    }


WORKLOADS = ("restate", "steady_tail", "mor_mixed")


def spec_for(workload: str, scale: str) -> Spec:
    return _specs(scale)[workload]


def batch_dir(inputs: str, kind: str, b: int) -> str:
    return os.path.join(inputs, kind, f"bidx={b}")


def generate(spark, spec: Spec, seed: int, n_tail: int,
             out: str) -> list[tuple[int, int, int]]:
    """Write batch 0 (the seed segment, seeded workloads only) and
    `n_tail` tail batches under `out`; returns (batch, lsn_from, lsn_to)
    per batch. Every event is a pure function of (seed, absolute lsn), so
    the same arguments give the same events. Seed segment and tail are
    written, and Kafka-framed, as one stream, so frame offsets run on
    across batches the way a topic's do."""
    from pyspark.sql import functions as F

    from embulk_output_databricks_spark.sources.kafka_tail import \
        encode_kafka_frame
    from embulk_output_databricks_spark.synth import synth_binlog

    lo, n = spec.seed_events, n_tail * spec.batch_events
    first = 1 if lo else 0
    bidx = lambda lsn: F.when(lsn < F.lit(lo), F.lit(0)).otherwise(  # noqa: E731
        F.lit(first) + F.floor((lsn - F.lit(lo)) / F.lit(spec.batch_events))
    ).cast("int").alias("bidx")
    tail = synth_binlog(spark, n, spec.n_docs, spec.batch_events, seed=seed,
                        hot_frac=spec.hot_frac, delete_frac=DELETE_FRAC,
                        start=lo)
    stream = tail
    if lo:
        # uniform (alpha=1) upserts over the key space: ~86% of keys live
        stream = synth_binlog(spark, lo, spec.n_docs, lo, seed=seed,
                              alpha=1.0, delete_frac=0.0).unionByName(tail)
    stream.select("*", bidx(F.col("seq_lsn"))).write.partitionBy("bidx") \
        .parquet(os.path.join(out, "binlog"))
    if spec.kafka:
        frames = encode_kafka_frame(stream)
        frames.select("*", bidx(F.unix_micros("timestamp"))) \
            .write.partitionBy("bidx").parquet(os.path.join(out, "frames"))
    batches = [(0, 0, lo)] if lo else []
    for i in range(n_tail):
        batches.append((first + i, lo + i * spec.batch_events,
                        lo + (i + 1) * spec.batch_events))
    return batches
