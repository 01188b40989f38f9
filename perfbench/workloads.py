"""Workload definitions and seeded input materialization.

Every workload replays one stream from ``sources.generator.change_events``
(Zipf repo skew 2.0, 5% exact duplicates, 8% deletes). Batch 0 is the
preload; replay batches follow. Batch membership is a seeded jitter of the
event id of up to one batch width, so neighbouring batches overlap in
``_seq`` and events arrive out of ``_seq`` order, while a schema bump stays
mid-stream. The seed changes key ranks and payloads, never sizes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

KEY_COLS = ["repo", "path"]
PAYLOAD = [("commit", "string"), ("lang", "string"), ("content", "string")]
EVENT_COLS = ["repo", "path", "commit", "lang", "content", "_seq", "_op", "_ts"]
EVOLVED_COL = ("content_bytes", "int")


@dataclass(frozen=True)
class Workload:
    n_repos: int
    preload_events: int
    batch_events: int
    cycle: int  # batches per cycle: the views refresh after a cycle's last
    # batch, and the timed phase runs whole cycles
    warmup_cycles: int  # cycles after the preload, counted in setup_s; only
    # the last warm-up batch refreshes the views and reads
    min_cycle_s: float  # floor on one cycle's wall, well below the measured
    # one; sizes the input so that a faster engine still has batches left
    merge_mode: str = "cow"
    mor_max_deltas: int = 8  # the engine's default
    views: bool = False  # aggregate + top-k views refreshed once per cycle
    lookups_per_batch: int = 0  # point reads after each batch
    scans_per_batch: int = 0  # pruned scans after each batch
    readback_lookups: int = 0  # point reads after the replay ends
    readback_scans: int = 0
    evolve: bool = False  # add a column when _schema_version reaches 2

    @property
    def warmup_batches(self) -> int:
        return self.warmup_cycles * self.cycle


WORKLOADS = {
    # a warm batch takes 2.1 to 2.4 s on a 4-vCPU VM
    "bulk_replay": Workload(
        n_repos=1000, preload_events=200_000, batch_events=100_000,
        cycle=1, warmup_cycles=1, min_cycle_s=1.25,
        readback_lookups=12, readback_scans=2, evolve=True,
    ),
    # a cycle takes 17 to 29 s on a 4-vCPU VM. Auto-compaction fires when a
    # bucket holds ``cycle`` delta layers, so it falls on the last batch of
    # every cycle, warm-up included (the preload is the base layer)
    "serve_mixed": Workload(
        n_repos=100, preload_events=40_000, batch_events=2_000,
        cycle=5, warmup_cycles=1, min_cycle_s=4.0,
        merge_mode="mor", mor_max_deltas=5, views=True,
        lookups_per_batch=2, scans_per_batch=1,
    ),
}

PATHS_PER_REPO = 200
NUM_BUCKETS = 16
DRIVER_MEM = "2g"  # below the machine's memory; the engine defaults to 32g
TOPK = 3
EXPIRE_KEEP = 2


def replay_batches(w: Workload, seconds: float) -> int:
    """Replay batches to materialize: the warm-up plus whole cycles for the
    most a run of ``seconds`` can start at ``min_cycle_s`` per cycle."""
    return w.warmup_batches + w.cycle * (math.ceil(seconds / w.min_cycle_s) + 1)


def materialize(spark, w: Workload, seed: int, seconds: float, out_dir: str) -> int:
    """Generate the run's events and write them, one directory per batch
    (``_b=<i>``), as parquet. Returns the number of batches written."""
    from pyspark.sql import functions as F

    from data_ingestor_py_spark.sources import change_events

    n_replay = replay_batches(w, seconds)
    P, B = w.preload_events, w.batch_events
    n_events = P + B * (n_replay + 1)
    bump_at = None
    if w.evolve:
        # first schema-2 event opens the first timed batch; a multiple of 7
        # keeps every duplicate (a copy of event id - id % 7) on the same
        # schema version as its original
        bump = P + B * (w.warmup_batches + 1)
        bump += -bump % 7
        bump_at = (bump + 0.5) / n_events
    ev = change_events(
        spark, n_events, n_repos=w.n_repos, paths_per_repo=PATHS_PER_REPO,
        seed=seed, skew=2.0, dup_rate=0.05, delete_rate=0.08,
        schema_bump_at=bump_at,
    )
    eid = F.col("event_id")
    jitter = F.pmod(F.xxhash64(eid, F.lit(seed + 17)), F.lit(B))
    # replay events whose jittered position falls short of one batch width
    # join the preload, so every replay batch holds about B events
    b = F.when(eid < P, F.lit(0)).otherwise(
        F.floor((eid - F.lit(P) + jitter) / F.lit(B))
    ).cast("int")
    (
        ev.withColumn("_b", b)
        .where(F.col("_b") <= n_replay)
        .write.partitionBy("_b")
        .parquet(out_dir)
    )
    return n_replay + 1
