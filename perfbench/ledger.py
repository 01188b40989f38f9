"""Outside-in instrumentation for the CDC replay benchmark.

Every layer is timed from outside, around calls into its public functions,
and reaches the engine only through parameters the engine already exposes:

- :class:`StorageCounter`'s adapter is passed as ``TargetTable.create(storage=)`` and
  as the views' ``storage=``;
- :class:`TimedTargetTable` is the table class itself (``create`` is a
  classmethod, so the subclass comes back from it);
- :class:`TimedCheckpoint` / :class:`TimedLineage` are passed as
  ``replay(checkpoint=, lineage=)``.

A :class:`Ledger` keeps every span in memory. In a traced run each span also
opens a Spark job group, and the event log (written to the run's work dir)
is parsed after the session stops to attribute jobs, tasks, shuffle bytes
and output bytes to the span that issued them.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from data_ingestor_py_spark.plans.checkpoint import Checkpoint, Lineage
from data_ingestor_py_spark.plans.fallback_log import FallbackLogger
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.storage import PosixStorage


@dataclass
class Span:
    name: str
    batch: int | None
    start: float
    wall: float = 0.0
    group: str | None = None
    extra: dict = field(default_factory=dict)


class Ledger:
    """In-memory span log. ``sc`` (a SparkContext) turns on job groups."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.batch: int | None = None
        self._groups: list[tuple[str, str]] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        sp = Span(name, self.batch, time.perf_counter())
        if self.sc is not None:
            sp.group = f"{name}#{self._n}"
            self._n += 1
            self._groups.append((sp.group, name))
            self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.wall = time.perf_counter() - sp.start
            self.spans.append(sp)
            if self.sc is not None:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(*self._groups[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def of(self, name: str, batches: set[int] | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (batches is None or s.batch in batches)
        ]


class StorageCounter:
    """Counts and times every metadata operation of one PosixStorage.

    The wrappers are set on the instance, so ``storage`` keeps its exact
    type: the engine chooses its distributed footer harvest only for a
    plain ``PosixStorage``, and the traced run must take the same path as
    the untraced one. Only the outermost call is timed (``delete_prefix``
    calls ``delete``), so ``busy_s`` never counts a nested call twice."""

    KINDS = {
        "get": "get", "put": "put", "put_if_absent": "put", "list": "list",
        "list_dirs": "list", "exists": None, "delete": None,
        "delete_prefix": None, "sweep_staging": None,
        "reclaim_stale_token": None, "mtime": None,
    }

    def __init__(self):
        self.storage = PosixStorage()
        self.counts = {"get": 0, "put": 0, "list": 0, "put_bytes": 0}
        self.busy_s = 0.0
        self._depth = 0
        for name, kind in self.KINDS.items():
            setattr(self.storage, name, self._wrap(kind, getattr(self.storage, name)))

    def snapshot(self) -> dict:
        return {**self.counts, "busy_s": self.busy_s}

    def _wrap(self, kind, fn):
        def timed(*args, **kwargs):
            if kind:
                self.counts[kind] += 1
            if kind == "put":
                self.counts["put_bytes"] += len(args[1])
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.busy_s += time.perf_counter() - t0

        return timed


class TimedTargetTable(TargetTable):
    """TargetTable whose write-side and maintenance calls open spans.

    ``ledger`` is set on the instance after ``create``; ``MergeStats`` is
    kept on the merge span exactly as returned."""

    ledger: Ledger

    def merge_apply(self, batch, *args, **kwargs):
        with self.ledger.span("target.merge_apply") as sp:
            st = super().merge_apply(batch, *args, **kwargs)
        sp.extra["stats"] = st
        return st

    def evolve(self, *args, **kwargs):
        with self.ledger.span("target.evolve"):
            return super().evolve(*args, **kwargs)

    def expire_snapshots(self, *args, **kwargs):
        with self.ledger.span("target.expire_snapshots"):
            return super().expire_snapshots(*args, **kwargs)

    def compact_bucket_deltas(self, *args, **kwargs):
        with self.ledger.span("target.compact") as sp:
            v = super().compact_bucket_deltas(*args, **kwargs)
        sp.extra["committed"] = v is not None
        return v


class TimedCheckpoint(Checkpoint):
    def __init__(self, spark, root, storage, ledger: Ledger):
        super().__init__(spark, root, storage=storage)
        self.ledger = ledger

    def commit(self, rec):
        with self.ledger.span("checkpoint.commit"):
            return super().commit(rec)


class TimedLineage(Lineage):
    def __init__(self, spark, root, storage, ledger: Ledger):
        super().__init__(spark, root, storage=storage)
        self.ledger = ledger

    def append(self, batch_id, bucket_rows):
        with self.ledger.span("checkpoint.lineage"):
            return super().append(batch_id, bucket_rows)


class RecordingFallback(FallbackLogger):
    """The engine's fallback log, passed as ``replay(fallback=)``, that also
    keeps the ids of the batches whose checkpoint or lineage write failed.
    Used in every run, traced or not."""

    def __init__(self, path: str):
        super().__init__(path)
        self.batches: set[int] = set()

    def log(self, symbol: str, message: str, **fields) -> str:
        self.batches.add(fields.get("batch_id"))
        return super().log(symbol, message, **fields)


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()
    ) / 1000.0


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: ``jobs``, ``tasks``, ``shuffle_write_bytes`` and
    ``output_bytes``, from the (uncompressed) event log of a stopped
    session. Jobs outside any group are filed under ``None``."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "output_bytes": 0,
        })

    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    a = acc(stage_group.get(ev.get("Stage ID")))
                    a["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    a["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    a["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
    return out
