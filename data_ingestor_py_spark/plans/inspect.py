"""Metadata inspection tables: the table's own metadata, queryable as
DataFrames — Iceberg's ``.files`` / ``.history`` / ``.snapshots``
metadata tables re-expressed over the engine's manifest + shards.

Everything here is a driver-side METADATA read (manifest, stats shards,
version objects) surfaced as a local relation (``session.local_frame``,
so collecting it runs no Spark job) — no data files are opened, so each
call is O(metadata), never O(rows). That also means the outputs are
plain queryable DataFrames: join ``files_df`` against a lineage read,
aggregate dup ratios per bucket, feed ``history_df`` to a dashboard —
without teaching any tool the manifest format.

Reference parity: the reference exposes its job log only as SQL-table
rows (schema.sql:24-43, logger/sqllogger.py); these are the engine-side
equivalents over the lake's own metadata.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.session import local_frame

__all__ = ["history_df", "files_df", "snapshots_df"]

_HISTORY_DDL = (
    "at double, snapshot bigint, op string, rows_in bigint, "
    "rows_applied bigint, buckets array<int>, rebased boolean, detail string"
)

_KNOWN = {"at", "snapshot", "op", "rows_in", "rows_applied", "buckets", "rebased"}


def history_df(table: TargetTable) -> DataFrame:
    """The FULL commit history (rolled segments + manifest tail, exactly
    :meth:`TargetTable.read_history`) as a DataFrame. Op-specific fields
    beyond the common set land in ``detail`` as a JSON string so no
    commit type is lossy."""
    rows = []
    for e in table.read_history():
        extra = {k: v for k, v in e.items() if k not in _KNOWN}
        rows.append(
            (
                float(e["at"]) if e.get("at") is not None else None,
                int(e["snapshot"]) if e.get("snapshot") is not None else None,
                e.get("op"),
                int(e["rows_in"]) if e.get("rows_in") is not None else None,
                (
                    int(e["rows_applied"])
                    if e.get("rows_applied") is not None
                    else None
                ),
                [int(b) for b in e["buckets"]] if e.get("buckets") else None,
                bool(e.get("rebased", False)),
                json.dumps(extra, sort_keys=True) if extra else None,
            )
        )
    return local_frame(table.spark, rows, _HISTORY_DDL)


_FILES_DDL = (
    "bucket int, layer string, dir string, file string, rows bigint, "
    "bytes bigint, stats string"
)


def files_df(table: TargetTable) -> DataFrame:
    """One row per LIVE data file: bucket, layer ('base' or 'delta:<i>'),
    snapshot dir, file name, row count and per-column bounds from the
    dir's stats shard when harvested (``rows`` = -1 and ``stats`` = NULL
    for unharvested dirs — unknown, not empty), and on-disk bytes where
    the storage exposes them."""
    m = table._load()
    rows = []

    def _entry_files(bucket: int, layer: str, rel_path: str):
        top, _, leaf = rel_path.partition("/")
        shard = table._load_stats_shard(top)
        by_file = {}
        if shard is not None:
            by_file = {
                e["f"]: e for e in shard.get("dirs", {}).get(leaf, [])
            }
        abs_dir = os.path.join(table.root, rel_path)
        for key in sorted(table.io.list(abs_dir)):
            fname = os.path.basename(key)
            if not fname.endswith(".parquet") or fname.startswith(("_", ".")):
                continue
            st = by_file.get(fname)
            try:
                nbytes = os.path.getsize(key)
            except OSError:
                nbytes = None
            rows.append(
                (
                    bucket,
                    layer,
                    top,
                    fname,
                    int(st["rows"]) if st is not None else -1,
                    nbytes,
                    json.dumps(st["st"], sort_keys=True) if st else None,
                )
            )

    for b, e in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
        _entry_files(int(b), "base", e["path"])
        for i, d in enumerate(e.get("deltas", [])):
            _entry_files(int(b), f"delta:{i}", d["path"] if isinstance(d, dict) else d)
    return local_frame(table.spark, rows, _FILES_DDL)


_SNAP_DDL = (
    "version bigint, committed_at double, op string, schema_version int, "
    "n_buckets int, merge_mode string, is_current boolean"
)


def snapshots_df(table: TargetTable, last: int = 100) -> DataFrame:
    """The retained snapshot versions (the ``_versions`` CAS tokens are
    the time-travel metadata), newest ``last`` of them: version,
    commit time and op (from that version's own history tail), schema
    version, live-bucket count. Versions swept by maintenance are
    absent — this lists what time travel can still reach."""
    m = table._load()
    vdir = os.path.join(table.root, "_versions")
    toks = sorted(k for k in table.io.list(vdir) if k.endswith(".json"))
    rows = []
    for key in toks[-last:]:
        raw = table.io.get(key)
        if raw is None:
            continue
        try:
            vm = json.loads(raw)
        except (json.JSONDecodeError, UnicodeDecodeError):
            continue
        tail = vm.get("history") or [{}]
        own = next(
            (e for e in reversed(tail) if e.get("snapshot") == vm.get("version")),
            {},
        )
        rows.append(
            (
                int(vm["version"]),
                float(own["at"]) if own.get("at") is not None else None,
                own.get("op"),
                int(vm.get("current_schema", 1)),
                len(vm.get("buckets", {})),
                vm.get("merge_mode", "cow"),
                vm.get("version") == m["version"],
            )
        )
    return local_frame(table.spark, rows, _SNAP_DDL)
