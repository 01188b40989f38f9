"""Debezium-envelope CDC ingestion (binlog/WAL tail wire format).

The reference tails *files* and hand-parses them into column-mapped rows
(msgbroker/file_producer.py:231-307); the industry-standard equivalent of
its input stage for a database binlog is the Debezium change-event
envelope: one JSON object per change with ``op`` ('c'reate / 'r'ead
snapshot / 'u'pdate / 'd'elete), ``before`` / ``after`` row images,
``ts_ms``, and a ``source`` block carrying the log position (LSN / binlog
pos). This module parses that envelope into the engine's normalized
change-event frame entirely in Catalyst: ``from_json`` with an explicit
schema, no Python in the row path, splittable JSON-lines input.

Normalization contract (what ``plans/replay.replay`` consumes):
  - ``_op``  : 'U' for c/r/u (upsert semantics — the merge treats a create
               and an update identically), 'D' for d.
  - ``_seq`` : total order per key — ``source.lsn`` when present, else
               ``ts_ms`` (Debezium guarantees LSN monotonicity per
               partition; the merge's max-``_seq`` dedup absorbs replays).
  - ``_ts``  : event timestamp from ``ts_ms``.
  - row payload columns from ``after`` (``before`` for deletes — the last
    committed image, which is what a tombstone needs for lineage).

Kafka-compacted topics interleave *tombstone* records (entire value NULL)
after deletes; those parse to a NULL envelope and are dropped (the 'd'
event itself is the delete — the tombstone is a broker-level compaction
hint, not a change).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_MAP = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}

# Debezium's placeholder for a column the source did not re-send on an
# update image (Postgres unchanged-TOAST semantics): "unchanged — fetch
# the previous value". Pass it as merge_apply(unavailable_sentinel=...)
# to resolve it in the merge's own window pass.
UNAVAILABLE_VALUE = "__debezium_unavailable_value"


def debezium_schema(row_fields: list[tuple[str, str]]) -> T.StructType:
    """Envelope schema for ``from_json`` given the table's row fields as
    (name, type) pairs — types from the engine's spec vocabulary
    (string/long/int/double/boolean/timestamp)."""
    row = T.StructType(
        [T.StructField(n, _TYPE_MAP[t], True) for n, t in row_fields]
    )
    return T.StructType(
        [
            T.StructField("op", T.StringType(), True),
            T.StructField("before", row, True),
            T.StructField("after", row, True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField(
                "source",
                T.StructType(
                    [
                        T.StructField("lsn", T.LongType(), True),
                        T.StructField("table", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )


# row-level change ops this engine ingests. Debezium also emits 't'
# (truncate) and 'm' (logical message) — NOT row changes; ingesting them
# would merge a phantom all-NULL-key row (NULL is a real key here), so
# they are routed to dead_letters for the operator to handle explicitly.
ROW_OPS = ("c", "r", "u", "d")


def _envelope(df, row_fields, value_col, ts_ms_fallback):
    """Shared keep/image/seq derivation for parse_debezium and its exact
    complement dead_letters."""
    env = F.from_json(F.col(value_col), debezium_schema(row_fields))
    is_del = env["op"] == "d"
    image = F.when(is_del, env["before"]).otherwise(env["after"])
    seq = (
        F.coalesce(env["source"]["lsn"], env["ts_ms"])
        if ts_ms_fallback
        else env["source"]["lsn"]
    )
    keep = env["op"].isin(*ROW_OPS) & image.isNotNull() & seq.isNotNull()
    return env, is_del, image, seq, keep


def parse_debezium(
    df: DataFrame,
    row_fields: list[tuple[str, str]],
    value_col: str = "value",
    ts_ms_fallback: bool = True,
) -> DataFrame:
    """Parse a column of Debezium-envelope JSON strings into normalized
    change events. Pure Catalyst (`from_json`): whole-stage codegen, no
    Python.

    A line is a change event iff its op is one of c/r/u/d AND the op's row
    image is present AND it has a sequence; everything else (malformed
    JSON, truncate/message ops, imageless records) is excluded here and
    captured — exactly — by :func:`dead_letters`.

    ``ts_ms_fallback``: when True (default), records without a
    ``source.lsn`` take ``ts_ms`` as ``_seq``. CAUTION — epoch-millisecond
    seqs and LSN seqs are NOT comparable: if a connector mixes both in one
    stream (e.g. snapshot reads without lsn followed by binlog events),
    the ms-scale seqs permanently out-rank the LSNs in max-_seq dedup.
    Set ``ts_ms_fallback=False`` for LSN-strict streams; lsn-less records
    then land in ``dead_letters(..., ts_ms_fallback=False)`` instead of
    being merged with a foreign ordering."""
    env, is_del, image, seq, keep = _envelope(df, row_fields, value_col, ts_ms_fallback)
    out = [image[n].alias(n) for n, _ in row_fields]
    return (
        df.where(keep)
        .select(
            *out,
            env["op"].alias("src_op"),
            F.when(is_del, F.lit("D")).otherwise(F.lit("U")).alias("_op"),
            seq.alias("_seq"),
            F.timestamp_millis(env["ts_ms"]).alias("_ts"),
        )
    )


def dead_letters(
    df: DataFrame,
    row_fields: list[tuple[str, str]],
    value_col: str = "value",
    ts_ms_fallback: bool = True,
) -> DataFrame:
    """The EXACT complement of :func:`parse_debezium` (same
    ``ts_ms_fallback``) minus Kafka tombstones (empty/NULL values, which
    are intentional compaction hints, not errors): malformed JSON, non-row
    ops ('t' truncate / 'm' message), records whose op lacks its row
    image, and — in LSN-strict mode — records without a sequence. Route
    this to a quarantine sink: at-least-once CDC pipelines must account
    for every input line, and silently dropping any of these loses the
    operator's only debugging signal (the reference logs them at WARN and
    moves on, logger/sqllogger.py pattern; a lake engine quarantines)."""
    _, _, _, _, keep = _envelope(df, row_fields, value_col, ts_ms_fallback)
    return df.where(
        F.col(value_col).isNotNull()
        & (F.length(F.trim(F.col(value_col))) > 0)
        & ~F.coalesce(keep, F.lit(False))
    ).select(F.col(value_col).alias("raw"))


def read_debezium_json(
    spark: SparkSession,
    path: str,
    row_fields: list[tuple[str, str]],
) -> DataFrame:
    """Scan a directory (or file) of Debezium JSON-lines and normalize.
    ``spark.read.text`` keeps the input splittable — at 100 TB the scan
    parallelizes per HDFS/S3 block, and the from_json projection runs
    inside the same codegen stage (no shuffle until the merge)."""
    return parse_debezium(spark.read.text(path), row_fields, value_col="value")


_DTYPE_TO_SPEC = {
    "string": "string",
    "bigint": "long",
    "int": "int",
    "double": "double",
    "boolean": "boolean",
    "timestamp": "timestamp",
}


def write_debezium_changelog(
    table,
    v_from: int,
    v_to: int,
    path: str,
    table_name: str = "table",
) -> list[tuple[str, str]]:
    """CDC OUT: publish a snapshot range's changelog as Debezium-envelope
    JSON-lines — the wire format a downstream Kafka/Debezium consumer (or
    another instance of this engine, via :func:`read_debezium_json`)
    replays to stay in sync. Closes the loop: the engine both tails a
    binlog and *is* one.

    Envelope mapping: I -> 'c', U -> 'u', D -> 'd' (image in ``before``);
    ``source.lsn`` = the row's ``_seq``, ``ts_ms`` = the row's ``_ts`` —
    engine bookkeeping rides at the ENVELOPE level (as in real Debezium),
    so the row image carries only user columns. Caveat: a 'd' envelope's
    lsn is the deleted row's LAST IMAGE seq (visible-state diff semantics
    — the deleting tombstone's own seq is not part of either visible
    state); a consumer replaying segmented changelogs should treat the
    envelope stream as source-ordered rather than comparing lsn across
    segments. The write is the manifest-pruned ``diff_versions`` scan plus
    a map-only serialize — no extra shuffle. Returns the row_fields spec a
    reader needs to parse the output back."""
    d = table.diff_versions(v_from, v_to)
    ct = F.col("_change_type")
    data_cols = [
        c for c in d.columns if c not in ("_change_type", "_op", "_seq", "_ts")
    ]
    # validate the exported columns' dtypes BEFORE any write: a column
    # outside the envelope spec vocabulary must fail fast with its name,
    # not as a bare KeyError after the changelog already landed on disk
    dt = dict(d.dtypes)
    bad = [(c, dt[c]) for c in data_cols if dt[c] not in _DTYPE_TO_SPEC]
    if bad:
        raise TypeError(
            "write_debezium_changelog: unsupported column dtype(s) for the "
            f"Debezium envelope spec: {bad}; supported source dtypes: "
            f"{sorted(_DTYPE_TO_SPEC)}"
        )
    row = F.struct(*[F.col(c) for c in data_cols])
    op = F.when(ct == "D", F.lit("d")).when(ct == "I", F.lit("c")).otherwise(F.lit("u"))
    env = to_debezium_json(
        row, op, F.unix_millis(F.col("_ts")), F.col("_seq"), table_name
    )
    d.select(env.alias("value")).write.mode("overwrite").text(path)
    return [(c, _DTYPE_TO_SPEC[dt[c]]) for c in data_cols]


def to_debezium_json(
    row: Column,
    op: Column,
    ts_ms: Column,
    lsn: Column,
    table_name: str = "events",
) -> Column:
    """Inverse of ``parse_debezium`` for one row image: serialize a struct
    column into an envelope JSON string (used by tests/gates to synthesize
    a binlog from a relational table; also the shape a sink would emit to
    feed a downstream Debezium consumer). NULL fields are omitted (the
    Debezium/Kafka-Connect JSON converter's default)."""
    is_del = op == "d"
    return F.to_json(
        F.struct(
            op.alias("op"),
            F.when(is_del, row).alias("before"),
            F.when(~is_del, row).alias("after"),
            ts_ms.alias("ts_ms"),
            F.struct(
                lsn.alias("lsn"), F.lit(table_name).alias("table")
            ).alias("source"),
        )
    )


# ------------------------------------------------------------------
# Schema-change events (Debezium schema-history wire format) -> evolve()
#
# Real Debezium streams interleave schema-change messages (emitted to the
# schema-change topic, and inline when `include.schema.changes` is on):
# a JSON object with a `ddl` string and a structured `tableChanges` block
# whose `table.columns` list IS the post-change schema. The engine drives
# TargetTable.evolve() from the STRUCTURED block (never by parsing SQL
# DDL text — connector dialects differ; the tableChanges block is the
# format's own normalized form), mirroring the reference's
# flush-then-switch mapping swap (msgbroker/sql_consumer.py:61-71): all
# rows before the change merge under the old schema, the table evolves,
# and rows after merge under the new one.


# SQL typeName (as Debezium's relational history records it) -> the
# engine's spec vocabulary. Length suffixes like VARCHAR(255) are
# normalized away before lookup.
_TYPENAME_TO_SPEC = {
    "VARCHAR": "string", "CHAR": "string", "TEXT": "string",
    "STRING": "string", "NVARCHAR": "string", "CLOB": "string",
    "TINYINT": "int", "SMALLINT": "int", "INT": "int", "INTEGER": "int",
    "BIGINT": "long",
    "FLOAT": "double", "REAL": "double", "DOUBLE": "double",
    "DOUBLE PRECISION": "double",
    "BOOLEAN": "boolean", "BOOL": "boolean",
    "TIMESTAMP": "timestamp", "DATETIME": "timestamp",
}


def _spec_type(type_name: str) -> str:
    base = type_name.split("(")[0].strip().upper()
    if base not in _TYPENAME_TO_SPEC:
        raise TypeError(
            f"schema-change column type {type_name!r} has no mapping into "
            f"the engine spec vocabulary; supported: {sorted(_TYPENAME_TO_SPEC)}"
        )
    return _TYPENAME_TO_SPEC[base]


def schema_change_schema() -> T.StructType:
    """``from_json`` schema for the subset of the Debezium schema-change
    message the engine consumes."""
    column = T.StructType(
        [
            T.StructField("name", T.StringType(), True),
            T.StructField("typeName", T.StringType(), True),
            T.StructField("position", T.IntegerType(), True),
            T.StructField("optional", T.BooleanType(), True),
        ]
    )
    table = T.StructType(
        [
            T.StructField(
                "primaryKeyColumnNames", T.ArrayType(T.StringType()), True
            ),
            T.StructField("columns", T.ArrayType(column), True),
        ]
    )
    change = T.StructType(
        [
            T.StructField("type", T.StringType(), True),
            T.StructField("id", T.StringType(), True),
            T.StructField("table", table, True),
        ]
    )
    return T.StructType(
        [
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("databaseName", T.StringType(), True),
            T.StructField("ddl", T.StringType(), True),
            T.StructField("tableChanges", T.ArrayType(change), True),
            T.StructField(
                "source",
                T.StructType([T.StructField("lsn", T.LongType(), True)]),
                True,
            ),
        ]
    )


def parse_schema_changes(
    df: DataFrame, value_col: str = "value", ts_ms_fallback: bool = True
) -> DataFrame:
    """Extract schema-change events from a (possibly mixed) line stream:
    one output row per change, with ``_seq`` (source.lsn, else ts_ms when
    ``ts_ms_fallback`` — the stream position at which the switch takes
    effect; with the fallback OFF, a change without an lsn yields a NULL
    ``_seq``, which the replay rejects rather than cutting epochs on a
    foreign ordering scale), the DDL text (audit only), and the
    post-change column list. Catalyst-only."""
    env = F.from_json(F.col(value_col), schema_change_schema())
    # F.get, not [0]: `tableChanges: []` (unparseable/no-op DDL) must yield
    # a NULL change block, while ANSI mode makes [0] raise on empty arrays
    chg = F.get(env["tableChanges"], 0)
    seq = (
        F.coalesce(env["source"]["lsn"], env["ts_ms"])
        if ts_ms_fallback
        else env["source"]["lsn"]
    )
    return (
        df.where(env["tableChanges"].isNotNull())
        .select(
            seq.alias("_seq"),
            env["ts_ms"].alias("ts_ms"),
            env["ddl"].alias("ddl"),
            chg["type"].alias("change_type"),
            chg["id"].alias("table_id"),
            chg["table"]["primaryKeyColumnNames"].alias("key_cols"),
            chg["table"]["columns"].alias("columns"),
        )
    )


# metadata-only type promotions (Iceberg's widening rules): stored files
# cast up losslessly on read. The REVERSE direction (wire narrower than
# the lake column) is deliberately ignored — a narrowing cast would
# corrupt reads of existing data, and it routinely appears when the wire
# type merely maps smaller than the lake's chosen type (INT vs long).
_WIDENINGS = {("int", "long"), ("float", "double")}


def table_change_to_evolution(table, wire_columns: list) -> dict:
    """Diff a schema-change event's post-change column list against the
    table's CURRENT schema -> the evolve() call that reconciles them:

    - wire column absent from the table        -> add (NULL-filled)
    - wire column WIDER than the table's       -> retype (metadata-only
      (int->long, float->double)                  promotion; old files
                                                  cast up on read)
    - wire column NARROWER than the table's    -> kept at the wider lake
                                                  type (narrowing would
                                                  corrupt stored reads)
    - incompatible class change (e.g.          -> typed error; reconcile
      string vs long)                             manually via evolve()
    - table column absent from the wire        -> kept (Iceberg-style:
      a source-side DROP never destroys lake history; new rows simply
      stop populating it)
    - a PRIMARY KEY column missing from wire   -> typed error (key
      evolution would re-identify every row; not a metadata operation)

    Renames are NOT inferable from the wire format (Debezium records a
    rename as drop+add, the column's identity is its name) — a rename
    therefore lands as an add, and reconciling it into a true rename
    (field-id reuse) stays a manual ``evolve(rename=...)`` call.
    """
    m = table._load()
    payload = {f["name"]: f["type"] for f in table.schema_fields(m)}
    keys = set(m["key_cols"])
    wire = {}
    for c in wire_columns:
        wire[c["name"]] = _spec_type(c["typeName"])
    missing_keys = keys - set(wire)
    if missing_keys:
        raise ValueError(
            f"schema change drops primary-key column(s) {sorted(missing_keys)}; "
            "key evolution is not supported (it would re-identify every row)"
        )
    add = [
        (n, t) for n, t in wire.items() if n not in payload and n not in keys
    ]
    retype: dict[str, str] = {}
    for n, t in wire.items():
        if n not in payload or payload[n] == t:
            continue
        if (payload[n], t) in _WIDENINGS:
            retype[n] = t
        elif (t, payload[n]) in _WIDENINGS:
            # wire narrower than the lake column: keep the wider type
            # (every unrelated ALTER re-lists existing columns, and the
            # wire mapping may simply be smaller — retyping long->int
            # here would corrupt reads of existing data)
            continue
        else:
            raise ValueError(
                f"incompatible retype for column {n!r}: table has "
                f"{payload[n]!r}, wire says {t!r} — not a metadata-only "
                "promotion; reconcile manually with evolve()"
            )
    return {"add": add, "retype": retype}


def replay_debezium_with_ddl(
    table,
    lines: DataFrame,
    value_col: str = "value",
    ts_ms_fallback: bool = True,
    table_id: str | None = None,
) -> list[tuple[str, str]]:
    """Replay a MIXED Debezium stream (row envelopes + schema-change
    messages) into ``table``, driving schema evolution from the wire
    format. Flush-then-switch, exactly like the reference's mid-stream
    mapping swap (msgbroker/sql_consumer.py:61-71): the stream is cut
    into epochs at each schema-change position; each epoch's rows are
    parsed under the schema in force DURING that epoch and merged, then
    the change is applied via ``TargetTable.evolve`` and the next epoch
    continues under the new schema.

    Epoch filtering needs only the envelope-level sequence (source.lsn /
    ts_ms — schema-independent), so each row is fully parsed exactly
    once, with its own epoch's schema. Schema-change events are
    metadata-scale (a handful per stream) and are collected driver-side;
    the row path stays Catalyst-only. Returns the final row_fields, so a
    caller can keep parsing a continuation of the stream.

    ``table_id`` filters schema-change events to this table (Debezium's
    schema-change topic is per-CONNECTOR — a shared stream carries other
    tables' DDL, which must not evolve this one). ``None`` accepts every
    change: only safe for single-table streams. Changes carrying no
    post-change column list (DROP TABLE, unparseable/no-op DDL arrives as
    ``tableChanges: []``) still cut an epoch at their position but apply
    no evolution (a source-side DROP never destroys lake history)."""
    raw = parse_schema_changes(lines, value_col, ts_ms_fallback).collect()
    if table_id is not None:
        raw = [r for r in raw if r["table_id"] == table_id]
    no_seq = [r for r in raw if r["_seq"] is None]
    if no_seq:
        raise ValueError(
            f"{len(no_seq)} schema-change event(s) carry no source.lsn "
            "while ts_ms_fallback is off — their epoch position is "
            "undefined on the LSN scale; fix the connector or enable the "
            "fallback"
        )
    changes = sorted(raw, key=lambda r: r["_seq"])
    # current schema from the table itself — resuming mid-stream after a
    # crash re-derives the right starting point (earlier epochs' evolves
    # are already in the manifest, and merge idempotence absorbs re-sent
    # row batches)
    def current_fields() -> list[tuple[str, str]]:
        m = table._load()
        return [(k, "string") for k in m["key_cols"]] + [
            (f["name"], f["type"]) for f in table.schema_fields(m)
        ]

    # envelope-level seq, schema-independent (no row images touched)
    env_min = T.StructType(
        [
            T.StructField("op", T.StringType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField(
                "source",
                T.StructType([T.StructField("lsn", T.LongType(), True)]),
                True,
            ),
        ]
    )
    env = F.from_json(F.col(value_col), env_min)
    seq = (
        F.coalesce(env["source"]["lsn"], env["ts_ms"])
        if ts_ms_fallback
        else env["source"]["lsn"]
    )
    # op.isNotNull() excludes schema-change messages too (they carry no
    # ``op`` field) — one from_json per line, not two
    row_lines = lines.where(env["op"].isNotNull())

    bounds = [r["_seq"] for r in changes]
    for i, change in enumerate([*changes, None]):
        lo = bounds[i - 1] if i > 0 else None
        hi = change["_seq"] if change is not None else None
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (seq > F.lit(lo))
        if hi is not None:
            cond = cond & (seq <= F.lit(hi))
        fields = current_fields()
        epoch = parse_debezium(
            row_lines.where(cond), fields, value_col, ts_ms_fallback
        )
        batch = epoch.select(
            *[c for c, _ in fields], "_seq", "_op", "_ts"
        )
        # merge_apply no-ops empty batches itself — probing emptiness here
        # would cost a full extra parse job per epoch. The batch is
        # epoch-sized and its lineage re-parses every envelope, so cache
        # it across the merge's two actions.
        table.merge_apply(batch, persist_batch=True)
        if change is not None and change["columns"] is not None:
            spec = table_change_to_evolution(table, change["columns"])
            if spec["add"] or spec["retype"]:
                table.evolve(**spec)
    return current_fields()
