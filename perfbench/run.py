"""CDC replay benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Setup starts a local Spark session, writes the
seeded change events to parquet under ``.perfbench_work/``, creates the
target table, applies the preload batch and the warm-up batches. The timed
phase then replays batches in a closed loop with one client (each batch,
view refresh, lookup or scan is issued only after the previous one
returned), in whole cycles, until a cycle ends after ``--seconds`` have
passed. Every run is checked against a DuckDB reference computed from the
materialized events.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``; the per-layer ledger with ``--trace 1``). The exit code is 1
when the reference check fails or an operation failed, 2 when the engine
sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import namedtuple
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BatchMeta = namedtuple("BatchMeta", "events seq_min seq_max schema_version")


def _q(values: list[float], p: int) -> float:
    """p-th percentile (inclusive interpolation); NaN when empty."""
    if not values:
        return float("nan")
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _peak_rss_mb(jvm_pid: int) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class Run:
    """One benchmark run: setup, the closed loop, verification, metrics."""

    def __init__(self, name: str, seed: int, seconds: float, traced: bool, work: Path):
        from workloads import WORKLOADS

        self.name, self.w = name, WORKLOADS[name]
        self.seed, self.seconds, self.traced = seed, seconds, traced
        self.work = work
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        # per-batch timestamps (perf_counter)
        self.t_start: dict[int, float] = {}
        self.t_durable: dict[int, float] = {}
        self.t_fresh: dict[int, float] = {}
        self.t_end: dict[int, float] = {}
        self.storage_at: dict[int, tuple[dict, dict]] = {}
        self.gc_at: dict[int, tuple[float, float]] = {}
        self.lookups: list[tuple] = []  # (batch, repo, path, rows)
        self.scans: list[tuple] = []  # (batch, lang, lo, hi, count)
        self.timed_start: float | None = None
        self.deadline = float("inf")
        self.evolved = False
        self.exhausted = False
        self.space_amp = float("nan")

    # ---------------- setup ----------------

    def start_session(self):
        from data_ingestor_py_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.traced:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        # one core stays free for the driver: Python, py4j and the JVM's
        # own compiler and GC threads
        cores = max(1, min(4, (os.cpu_count() or 1) - 1))
        self.spark = get_spark(f"perfbench-{self.name}", cores=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def make_inputs(self):
        import reference
        from workloads import materialize

        t0 = time.perf_counter()
        self.events_dir = str(self.work / "events")
        self.n_batches = materialize(self.spark, self.w, self.seed, self.seconds, self.events_dir)
        self.con = reference.connect(f"{self.events_dir}/*/*.parquet")
        self.con.execute(f"SET temp_directory = '{self.work / 'tmp'}'")
        rows = self.con.execute(
            "SELECT _b, count(*), min(_seq), max(_seq), max(_schema_version) "
            "FROM events GROUP BY _b ORDER BY _b"
        ).fetchall()
        self.meta = {r[0]: BatchMeta(*r[1:]) for r in rows}
        # probe keys: seeded sample of keys present by the end of warm-up
        self.probes = self.con.execute(
            "SELECT repo, path FROM (SELECT DISTINCT repo, path FROM events "
            f"WHERE _b <= {self.w.warmup_batches}) "
            f"ORDER BY md5(repo || path || '{self.seed}') LIMIT 200"
        ).fetchall()
        self.schema = self.spark.read.parquet(f"{self.events_dir}/_b=0").schema
        self.generate_s = time.perf_counter() - t0

    def make_table(self):
        from data_ingestor_py_spark.plans.target import TargetTable
        from ledger import Ledger, StorageCounter, TimedCheckpoint, TimedLineage, TimedTargetTable
        from workloads import KEY_COLS, NUM_BUCKETS, PAYLOAD, TOPK

        w = self.w
        self.ledger = Ledger(self.spark.sparkContext if self.traced else None)
        self.counter = StorageCounter() if self.traced else None
        self.storage = self.counter.storage if self.traced else None
        cls = TimedTargetTable if self.traced else TargetTable
        self.table_root = str(self.work / "table")
        self.table = cls.create(
            self.spark, self.table_root, key_cols=KEY_COLS, columns=PAYLOAD,
            num_buckets=NUM_BUCKETS, merge_mode=w.merge_mode,
            mor_max_deltas=w.mor_max_deltas, stats_cols=["_seq", "lang"],
            storage=self.storage,
        )
        self.cp = self.lin = None
        if self.traced:
            self.table.ledger = self.ledger
            self.cp = TimedCheckpoint(self.spark, self.table_root, self.storage, self.ledger)
            self.lin = TimedLineage(self.spark, self.table_root, self.storage, self.ledger)
        self.mv = self.topk = None
        if w.views:
            from data_ingestor_py_spark.plans.mv import IncrementalAggregate
            from data_ingestor_py_spark.plans.topk_mv import IncrementalTopK

            self.mv = IncrementalAggregate.create(
                self.spark, str(self.work / "mv"), self.table, group_cols=["lang"],
                sum_cols=[("sum_seq", "_seq")], storage=self.storage,
            )
            self.topk = IncrementalTopK.create(
                self.spark, str(self.work / "topk"), self.table, group_cols=["lang"],
                order_col="_seq", k=TOPK, order_type="long", storage=self.storage,
            )

    # ---------------- the closed loop ----------------

    def feed(self):
        """Batches for ``replay``, one at a time: the next is produced only
        after the previous iteration returned. No cycle starts after the
        deadline; running out of input before it is recorded."""
        for i in range(self.n_batches):
            if (i - 1) % self.w.cycle == 0 and time.perf_counter() >= self.deadline:
                return
            yield self.spark.read.schema(self.schema).parquet(f"{self.events_dir}/_b={i}")
        self.exhausted = time.perf_counter() < self.deadline

    def prepare(self, df, i):
        from pyspark.sql import functions as F

        from workloads import EVENT_COLS

        with self.ledger.span("replay.prepare"):
            cols = [F.col(c) for c in EVENT_COLS]
            if self.evolved:
                cols.append(
                    F.when(F.col("_schema_version") >= 2, F.length("content"))
                    .alias("content_bytes")
                )
            return df.select(*cols)

    def on_batch_start(self, i, table):
        from ledger import jvm_gc_seconds
        from workloads import EVOLVED_COL

        self.ledger.batch = i
        self.attempted += 1
        self.t_start[i] = time.perf_counter()
        if self.traced:
            self.storage_at[i] = (self.counter.snapshot(), None)
            self.gc_at[i] = (jvm_gc_seconds(self.spark), 0.0)
        if self.w.evolve and not self.evolved and self.meta[i].schema_version >= 2:
            table.evolve(add=[EVOLVED_COL])
            self.evolved = True

    def on_batch_end(self, i, table, rec):
        from ledger import jvm_gc_seconds
        from workloads import EXPIRE_KEEP

        self.t_durable[i] = time.perf_counter()
        if self.traced:
            self.storage_at[i] = (self.storage_at[i][0], self.counter.snapshot())
        # warm-up batches before the last one only merge; the views then
        # fold them all at once. Later, the views fold one cycle at a time,
        # and every batch of the cycle becomes visible in them together
        full = i >= self.w.warmup_batches
        if self.mv is None:
            self.t_fresh[i] = self.t_durable[i]
        elif full and i % self.w.cycle == 0:
            for view, kind in ((self.mv, "mv.refresh"), (self.topk, "topk_mv.refresh")):
                self._op(kind, view.refresh)
            now = time.perf_counter()
            for j in range(i - self.w.cycle + 1, i + 1):
                self.t_fresh[j] = now
        for _ in range(self.w.lookups_per_batch if full else 0):
            self.lookup(i)
        for _ in range(self.w.scans_per_batch if full else 0):
            self.scan(i, i)
        if i % self.w.cycle == 0:
            # only once the views have caught up: a view diffs the table from
            # the version it last saw, which must not be expired yet
            table.expire_snapshots(keep_last=EXPIRE_KEEP)
        self.t_end[i] = time.perf_counter()
        if self.traced:
            self.gc_at[i] = (self.gc_at[i][0], jvm_gc_seconds(self.spark))
        if i == self.w.warmup_batches:
            self.timed_start = self.t_end[i]
            self.deadline = self.timed_start + self.seconds

    def _op(self, kind, fn, *args):
        """One closed-loop read-side operation; a failure is counted and
        reported, and the loop goes on."""
        self.attempted += 1
        try:
            with self.ledger.span(kind) as sp:
                out = fn(*args)
            return sp, out
        except Exception:  # noqa: BLE001 - counted in `failed`, traceback kept
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None

    def lookup(self, at: int):
        from pyspark.sql import functions as F

        repo, path = self.probes[len(self.lookups) % len(self.probes)]
        holder = {}

        def run():
            df = self.table.lookup([{"repo": repo, "path": path}])
            holder["df"] = df
            return df.select("_seq", F.sha2("content", 256)).collect()

        sp, rows = self._op("target.lookup", run)
        if sp is None:
            return
        self.lookups.append((at, repo, path, [tuple(r) for r in rows]))
        if self.traced:
            bkts = {p.split("bkt=")[1].split("/")[0] for p in holder["df"].inputFiles()}
            sp.extra["buckets_read"] = len(bkts)

    def scan(self, at: int, window_end: int):
        from data_ingestor_py_spark.sources.generator import LANGS

        lang = LANGS[(self.seed + len(self.scans)) % len(LANGS)]
        lo = self.meta[max(window_end - 1, 1)].seq_min
        hi = self.meta[window_end].seq_max + 1
        preds = [("lang", "=", lang), ("_seq", ">=", lo), ("_seq", "<", hi)]
        sp, n = self._op("target.read_where", lambda: self.table.read_where(preds).count())
        if sp is None:
            return
        self.scans.append((at, lang, lo, hi, n))
        if self.traced:
            plan = self.table.scan_plan(preds)
            sp.extra["files_read_frac"] = plan["files_read"] / max(plan["files_total"], 1)

    def replay(self):
        from data_ingestor_py_spark.plans.replay import replay

        from ledger import RecordingFallback

        fallback = RecordingFallback(os.path.join(self.table_root, "_fallback_logs.json"))
        raised = False
        try:
            replay(
                self.table, self.feed(), checkpoint=self.cp, lineage=self.lin,
                prepare=self.prepare, on_batch_start=self.on_batch_start,
                on_batch_end=self.on_batch_end, fallback=fallback,
            )
        except Exception:  # noqa: BLE001 - a failed batch fails the run
            raised = True
            traceback.print_exc(file=sys.stderr)
            self.errors.append("replay raised")
        # replay() logs a failed checkpoint or lineage write and goes on; a
        # batch that started but never became durable is lost too
        lost = (set(self.t_start) - set(self.t_durable)) | fallback.batches
        for i in sorted(lost):
            self.errors.append(f"batch {i}: checkpoint or lineage record not durable")
        self.failed += len(lost) or int(raised)
        self.last = max(self.t_durable, default=-1)
        self.ledger.batch = None
        self.timed = [i for i in sorted(self.t_end) if i > self.w.warmup_batches]
        if self.last >= 1:
            for _ in range(self.w.readback_lookups):
                self.lookup(self.last)
            for k in range(self.w.readback_scans):
                self.scan(self.last, max(1, self.last - k))

    # ---------------- verification ----------------

    def collect_outputs(self):
        from pyspark.sql import functions as F

        state = self.table.read().select(
            "repo", "path", "_seq", F.sha2("content", 256).alias("content_sha"), "lang",
            (F.col("content_bytes") if self.evolved else F.lit(None).cast("int"))
            .alias("content_bytes"),
        )
        self.state_dir = str(self.work / "state")
        state.write.parquet(self.state_dir)
        self.agg_rows = self.topk_rows = None
        if self.mv is not None:
            self.agg_rows = [tuple(r) for r in self.mv.read().select("lang", "n_rows", "sum_seq").collect()]
            self.topk_rows = [
                tuple(r) for r in self.topk.read()
                .select("lang", "rank", "i_repo", "i_path", "val").collect()
            ]
        self.peak_rss_mb = _peak_rss_mb(self.jvm_pid)
        self.table_bytes = _dir_bytes(self.table_root)

    def stop_session(self):
        """Stop Spark, then the JVM it launched, and wait for it to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def verify(self):
        import reference
        from workloads import TOPK

        if self.last < 0:
            return
        self.errors += reference.check(
            self.con, self.last, f"{self.state_dir}/*.parquet",
            agg_rows=self.agg_rows, topk_rows=self.topk_rows, topk_k=TOPK,
            lookups=self.lookups, scans=self.scans,
            compare_content_bytes=self.evolved,
        )
        ref_file = str(self.work / "reference.parquet")
        reference.write_reference_table(self.con, self.last, ref_file, self.evolved)
        self.space_amp = self.table_bytes / os.path.getsize(ref_file)

    # ---------------- metrics ----------------

    def timed_wall(self) -> float:
        return self.t_end[self.timed[-1]] - self.timed_start if self.timed else 0.0

    def events_per_s(self) -> float:
        if not self.timed:
            return 0.0
        return sum(self.meta[i].events for i in self.timed) / self.timed_wall()

    def end_to_end(self) -> dict:
        batch = [self.t_durable[i] - self.t_start[i] for i in self.timed]
        fresh = [self.t_fresh[i] - self.t_start[i] for i in self.timed if i in self.t_fresh]
        timed_or_readback = set(self.timed) | {None}
        lk = [s.wall * 1e3 for s in self.ledger.of("target.lookup", timed_or_readback)]
        sc = [s.wall * 1e3 for s in self.ledger.of("target.read_where", timed_or_readback)]
        return {
            "setup_s": ((self.timed_start or time.perf_counter()) - T_START, "s"),
            "events_per_s": (self.events_per_s(), "1/s"),
            "batch_p50_s": (_q(batch, 50), "s"),
            "batch_p75_s": (_q(batch, 75), "s"),
            "fresh_p50_s": (_q(fresh, 50), "s"),
            "fresh_p75_s": (_q(fresh, 75), "s"),
            "lookup_p50_ms": (_q(lk, 50), "ms"),
            "lookup_p90_ms": (_q(lk, 90), "ms"),
            "scan_p50_ms": (_q(sc, 50), "ms"),
            "space_amp": (self.space_amp, "ratio"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }

    def per_layer(self, groups: dict) -> dict:
        from workloads import NUM_BUCKETS

        L, timed = self.ledger, set(self.timed)
        readish = timed | {None}

        def jobs(sp, key="jobs"):
            """A span's event-log counter: jobs, tasks or bytes."""
            return groups.get(sp.group, {}).get(key, 0)

        merges = {s.batch: s for s in L.of("target.merge_apply", timed)}
        compact = {}
        for s in L.of("target.compact", timed):
            compact[s.batch] = compact.get(s.batch, 0.0) + s.wall
        accounted = {}
        for name in ("replay.prepare", "target.evolve", "target.merge_apply",
                     "checkpoint.commit", "checkpoint.lineage"):
            for s in L.of(name, timed):
                accounted[s.batch] = accounted.get(s.batch, 0.0) + s.wall
        wall = {i: self.t_durable[i] - self.t_start[i] for i in timed}
        unacc = {i: wall[i] - accounted.get(i, 0.0) for i in timed}
        st = {i: s.extra["stats"] for i, s in merges.items()}
        sto = {i: {k: b[k] - a[k] for k in a} for i, (a, b) in self.storage_at.items() if i in timed}
        mb = 1024.0 * 1024.0
        m = {
            "target.merge_apply.merge_s": (_med(x.merge_s for x in st.values()), "s"),
            "target.merge_apply.shuffle_write_mb": (
                _med(jobs(s, "shuffle_write_bytes") / mb for s in merges.values()), "MB"),
            "target.merge_apply.output_mb": (
                _med(jobs(s, "output_bytes") / mb for s in merges.values()), "MB"),
            "target.merge_apply.dedup_ratio": (
                _med(x.rows_after_dedup / x.rows_in for x in st.values()), "ratio"),
            "target.merge_apply.touched_frac": (
                _med(x.touched_buckets / NUM_BUCKETS for x in st.values()), "ratio"),
            "target.merge_apply.wall_s": (_med(s.wall for s in merges.values()), "s"),
            "target.merge_apply.discover_s": (_med(x.discover_s for x in st.values()), "s"),
            "target.merge_apply.other_s": (_med(
                s.wall - st[i].discover_s - st[i].merge_s - compact.get(i, 0.0)
                for i, s in merges.items()), "s"),
            "target.merge_apply.spark_jobs": (_med(jobs(s) for s in merges.values()), "count"),
            "target.merge_apply.spark_tasks": (
                _med(jobs(s, "tasks") for s in merges.values()), "count"),
            "checkpoint.commit_s": (_med(s.wall for s in L.of("checkpoint.commit", timed)), "s"),
            "checkpoint.lineage_s": (_med(s.wall for s in L.of("checkpoint.lineage", timed)), "s"),
            "checkpoint.spark_jobs": (sum(
                jobs(s) for n in ("checkpoint.commit", "checkpoint.lineage")
                for s in L.of(n, timed)), "count"),
            "storage.get_calls": (_med(d["get"] for d in sto.values()), "count"),
            "storage.put_calls": (_med(d["put"] for d in sto.values()), "count"),
            "storage.list_calls": (_med(d["list"] for d in sto.values()), "count"),
            "storage.put_bytes": (_med(d["put_bytes"] for d in sto.values()), "B"),
            "storage.busy_s": (_med(d["busy_s"] for d in sto.values()), "s"),
            "replay.batch_wall_s": (_med(wall.values()), "s"),
            "replay.iteration_s": (_med(self.t_end[i] - self.t_start[i] for i in timed), "s"),
            "replay.unaccounted_s": (_med(unacc.values()), "s"),
            "replay.unaccounted_frac": (_med(unacc.values()) / max(_med(wall.values()), 1e-9), "ratio"),
            "mv.refresh_s": (_med(s.wall for s in L.of("mv.refresh", timed)), "s"),
            "mv.spark_jobs": (_med(jobs(s) for s in L.of("mv.refresh", timed)), "count"),
            "topk_mv.refresh_s": (_med(s.wall for s in L.of("topk_mv.refresh", timed)), "s"),
            "topk_mv.spark_jobs": (_med(jobs(s) for s in L.of("topk_mv.refresh", timed)), "count"),
            "target.lookup.spark_jobs": (
                _med(jobs(s) for s in L.of("target.lookup", readish)), "count"),
            "target.lookup.buckets_read": (
                _med(s.extra["buckets_read"] for s in L.of("target.lookup", readish)), "count"),
            "target.read_where.files_read_frac": (_med(
                s.extra["files_read_frac"] for s in L.of("target.read_where", readish)), "ratio"),
            "target.read_where.spark_jobs": (
                _med(jobs(s) for s in L.of("target.read_where", readish)), "count"),
            "target.compactions": (sum(
                1 for s in L.of("target.compact", timed) if s.extra.get("committed")), "count"),
            "target.expire_snapshots_s": (
                _med(s.wall for s in L.of("target.expire_snapshots", timed)), "s"),
            "target.evolve_s": (sum(s.wall for s in L.of("target.evolve")), "s"),
            "sources.generate_s": (self.generate_s, "s"),
            "session.start_s": (self.session_start_s, "s"),
            "spark.jvm_gc_s": (_med(
                b - a for i, (a, b) in self.gc_at.items() if i in timed), "s"),
            "trace.events_per_s": (self.events_per_s(), "1/s"),
        }
        return m


def main(argv=None) -> int:
    from workloads import DRIVER_MEM, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "data_ingestor_py_spark" / "plans" / "replay.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        # every JVM (the launcher too): temp files in the work dir, and no
        # hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "SPARK_DRIVER_MEM": DRIVER_MEM,
    })
    import tempfile

    tempfile.tempdir = None
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    phases = {}  # step -> wall seconds, for the summary on stderr

    def step(fn):
        t0 = time.perf_counter()
        fn()
        phases[fn.__name__] = time.perf_counter() - t0

    try:
        step(run.start_session)
        try:
            step(run.make_inputs)
            step(run.make_table)
            step(run.replay)
            step(run.collect_outputs)
        finally:
            step(run.stop_session)
        groups = {}
        if run.traced:
            from ledger import read_event_log

            groups = read_event_log(str(work / "eventlog"))
        step(run.verify)
        metrics = run.per_layer(groups) if run.traced else run.end_to_end()
    finally:
        if hasattr(run, "con"):
            run.con.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass

    for e in run.errors:
        print(f"perfbench: MISMATCH {e}", file=sys.stderr)
    if run.exhausted:
        print(
            f"perfbench: WARNING the input ran out before --seconds passed; "
            f"the timed phase is {run.timed_wall():.1f} s. Lower min_cycle_s "
            f"for {args.workload} in perfbench/workloads.py",
            file=sys.stderr,
        )
    correct = not run.errors and run.failed == 0 and bool(run.timed)
    print(
        f"perfbench: {args.workload} seed={args.seed} batches={run.last + 1} "
        f"timed={len(run.timed)} ({run.timed_wall():.1f} s) error_rate={run.failed / max(run.attempted, 1):.4f} "
        f"correct={correct}",
        file=sys.stderr,
    )
    print("perfbench: timed batch walls " + " ".join(
        f"{run.t_durable[i] - run.t_start[i]:.2f}s" for i in run.timed), file=sys.stderr)
    print("perfbench: phase walls " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()),
          file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
