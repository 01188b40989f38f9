"""Deterministic synthetic CDC stream (binlog/WAL tail) generator.

Everything derives from ``spark.range(n)`` by hashing the row id with an
explicit seed — never ``rand()`` — so the stream is byte-identical across
runs, partition layouts, and cluster sizes. That property is what makes the
sha256-verified replay tests meaningful.

Scale design: the generator is a narrow map over ``spark.range`` (no shuffle,
no driver data), so it produces 10^10 events as happily as 10^4 — rows are
never materialized on the driver.

Stream properties (FIXTURES.md B2):
- key = (repo, path); Zipf-ish hot-repo skew via a power-law index map;
- ``_seq`` global monotone (total order within any key);
- ``_op`` in I/U/D — the reference only INSERTs
  (db/postgres_query_builder.py:16-41) and UPDATEs (:43-45); D generalizes;
- exact duplicate events (same commit,_seq) injected at ``dup_rate`` —
  the reference's at-least-once retry (msgbroker/sql_consumer.py:155-156)
  produces exactly these, and the engine must dedup them;
- ``_schema_version`` bumps mid-stream to drive schema evolution, mirroring
  the ``__NEW_FILE__`` mapping switch (msgbroker/sql_consumer.py:61-71).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ["py", "rs", "go", "js", "ts", "java", "c", "cpp", "rb", "sql"]


def _unit(col, seed: int):
    """Deterministic uniform in [0,1) from a column + seed."""
    return (F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(1_000_000)) / F.lit(1_000_000.0))


def change_events(
    spark: SparkSession,
    n_events: int,
    n_repos: int = 100,
    paths_per_repo: int = 200,
    seed: int = 42,
    skew: float = 2.0,
    dup_rate: float = 0.05,
    delete_rate: float = 0.08,
    schema_bump_at: float | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Synthetic ordered change-event stream.

    ``skew`` > 1 concentrates events on low repo indices (hot repos);
    ``dup_rate`` fraction of events are exact replays of an earlier event
    (same commit and _seq — idempotency fodder); ``schema_bump_at`` in (0,1)
    sets the stream fraction after which ``_schema_version`` becomes 2.
    """
    rng = spark.range(0, n_events, 1, partitions or spark.sparkContext.defaultParallelism)
    id_ = F.col("id")

    # Duplicate injection: a dup event clones the event floor(id/7)*7 within
    # its neighbourhood -> identical (repo, path, commit, _seq) payload.
    is_dup = _unit(id_, seed + 9) < F.lit(dup_rate)
    eff = F.when(is_dup, (id_ - F.pmod(id_, F.lit(7)))).otherwise(id_).alias("eff")

    df = rng.select(id_.alias("event_id"), eff)
    e = F.col("eff")

    repo_idx = F.floor(F.pow(_unit(e, seed), F.lit(skew)) * F.lit(n_repos)).cast("long")
    path_idx = F.pmod(F.xxhash64(e, F.lit(seed + 1)), F.lit(paths_per_repo))
    op_u = _unit(e, seed + 2)
    lang_idx = F.pmod(F.xxhash64(e, F.lit(seed + 3)), F.lit(len(LANGS))).cast("int")

    repo = F.concat(F.lit("repo-"), F.lpad(repo_idx.cast("string"), 4, "0"))
    # path derives from (repo_idx, path_idx) ONLY — the keyspace is exactly
    # n_repos x paths_per_repo so replayed streams revisit keys (upserts
    # actually update; state saturates instead of growing per event)
    path = F.concat(
        F.lit("src/"),
        F.lower(F.hex(F.abs(F.xxhash64(repo_idx * 100003 + path_idx, F.lit(seed + 4))))),
        F.lit("/f"),
        path_idx.cast("string"),
        F.lit(".txt"),
    )
    lang = F.array(*[F.lit(x) for x in LANGS])[lang_idx]
    op = F.when(op_u < F.lit(delete_rate), F.lit("D")).otherwise(
        F.when(op_u < F.lit(0.5), F.lit("I")).otherwise(F.lit("U"))
    )
    commit = F.substring(F.sha2(F.concat_ws("|", repo, path, e.cast("string")), 256), 1, 40)
    # Deterministic pseudo-code content (~120-200 chars), nullable for deletes.
    body = F.concat(
        F.lit("def f_"),
        F.conv(F.substring(commit, 1, 8), 16, 10),
        F.lit("(x):\n    return x * "),
        F.pmod(F.xxhash64(e, F.lit(seed + 5)), F.lit(997)).cast("string"),
        F.lit("  # "),
        F.repeat(F.concat(lang, F.lit(" ")), 16),
    )
    content = F.when(op == "D", F.lit(None).cast("string")).otherwise(body)
    schema_version = (
        F.when(F.col("event_id") >= F.lit(int(n_events * schema_bump_at)), F.lit(2)).otherwise(F.lit(1))
        if schema_bump_at is not None
        else F.lit(1)
    )
    ts = F.timestamp_seconds(F.lit(1704067200) + e * 3 + F.pmod(F.xxhash64(e, F.lit(seed + 6)), F.lit(120)))

    return df.select(
        F.col("event_id"),
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        e.alias("_seq"),
        op.alias("_op"),
        ts.alias("_ts"),
        lang.alias("lang"),
        content.alias("content"),
        schema_version.alias("_schema_version"),
    )


def repo_files_seed(spark: SparkSession, n_rows: int, seed: int = 42, **kw) -> DataFrame:
    """Insert-only prefix stream usable as an initial table load."""
    return change_events(spark, n_rows, seed=seed, delete_rate=0.0, dup_rate=0.0, **kw)
