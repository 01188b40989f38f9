"""Exactly-once reductions: max-sequence dedup (M2/M3).

The reference has *no* dedup — its tenacity retry around a partially
committed batch (msgbroker/sql_consumer.py:155-156 + commit at
db/connection_manager.py:88) can double-insert rows, making it at-least-once.
Here replays are harmless because application is a per-key max-``_seq``
reduction, which is idempotent and commutative.

Scale notes:
- ``latest_by_key`` uses ``groupBy(key).agg(max(struct(_seq, ...)))`` rather
  than a window ``row_number``: the aggregate gets a map-side partial
  reduction (partial_max before the shuffle), so the shuffle carries at most
  one row per key per input partition. A window would shuffle *every* event.
- ``salted_latest_by_key`` defuses hot-key skew (one repo receiving most
  events) with a two-phase reduce: max per (key, salt) then max per key.
  AQE skew handling covers joins; aggregation skew needs explicit salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ordered_struct(df: DataFrame, seq_col: str, key_cols: list[str]):
    """Struct whose natural ordering is (seq, then remaining cols) — struct
    comparison is lexicographic by field, giving a deterministic total order
    (ties on _seq broken by commit/payload bytes)."""
    rest = [c for c in df.columns if c not in key_cols and c != seq_col]
    return F.struct(F.col(seq_col).alias(seq_col), *[F.col(c).alias(c) for c in rest])


def latest_by_key(df: DataFrame, key_cols: list[str], seq_col: str = "_seq") -> DataFrame:
    """One row per key: the event with the greatest ``_seq`` (M2).

    Equivalent to ``row_number() over (partition by key order by _seq desc)
    = 1`` but expressed as an aggregate for map-side combine.
    """
    top = _ordered_struct(df, seq_col, key_cols)
    agg = df.groupBy(*key_cols).agg(F.max(top).alias("_top"))
    rest = [c for c in df.columns if c not in key_cols and c != seq_col]
    return agg.select(
        *key_cols,
        F.col(f"_top.{seq_col}").alias(seq_col),
        *[F.col(f"_top.{c}").alias(c) for c in rest],
    )


def salted_latest_by_key(
    df: DataFrame, key_cols: list[str], seq_col: str = "_seq", salt_buckets: int = 16
) -> DataFrame:
    """Two-phase max-seq reduce for skewed keys (M3).

    Phase 1 groups by (key, salt) — the hot key's rows spread across
    ``salt_buckets`` reducers; phase 2 reduces the per-salt winners.
    Result is identical to :func:`latest_by_key` (max is associative).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns if c == seq_col or c == "commit"]), F.lit(salt_buckets))
    top = _ordered_struct(df, seq_col, key_cols)
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.max(top).alias("_top"))
        .drop("_salt")
    )
    rest = [c for c in df.columns if c not in key_cols and c != seq_col]
    phase2 = phase1.groupBy(*key_cols).agg(F.max("_top").alias("_top"))
    return phase2.select(
        *key_cols,
        F.col(f"_top.{seq_col}").alias(seq_col),
        *[F.col(f"_top.{c}").alias(c) for c in rest],
    )
