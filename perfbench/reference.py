"""Independent reference check of a replay run, computed by DuckDB straight
from the materialized change events (never from engine output).

The reference state after batch ``b`` is, per key ``(repo, path)``, the
event with the highest ``_seq`` among batches ``0..b``, dropped if it is a
delete. Duplicate events are exact copies, so ties on ``_seq`` are
harmless. Everything the engine returned during the run is compared
against it: the final visible state, both views, every lookup and every
scan count. :func:`check` returns a list of mismatch descriptions; an
empty list means the run is correct.
"""

from __future__ import annotations

import duckdb

def connect(events_glob: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{events_glob}', hive_partitioning = true)"
    )
    return con


def _winners(upto: int, key_filter: str = "TRUE") -> str:
    return f"""
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY repo, path ORDER BY _seq DESC) AS _rn
            FROM events WHERE _b <= {int(upto)} AND {key_filter})
        WHERE _rn = 1 AND _op <> 'D'"""


def reference_state(upto: int) -> str:
    """SQL for the visible reference state after batch ``upto``, in the
    comparison shape (repo, path, _seq, content_sha, lang, content_bytes)."""
    return f"""
        SELECT repo, path, _seq, sha256(content) AS content_sha, lang,
               CASE WHEN _schema_version >= 2 THEN length(content) END
                   AS content_bytes
        FROM ({_winners(upto)})"""


def write_reference_table(con, upto: int, path: str, evolved: bool) -> None:
    """The reference state with the table's visible columns, as one
    parquet file (the denominator of ``space_amp``)."""
    extra = (
        ", CASE WHEN _schema_version >= 2 THEN length(content) END "
        "AS content_bytes" if evolved else ""
    )
    con.execute(
        f"""COPY (SELECT repo, path, commit, lang, content, _seq, _op, _ts{extra}
                  FROM ({_winners(upto)}) ORDER BY repo, path)
            TO '{path}' (FORMAT parquet, COMPRESSION snappy)"""
    )


def check(
    con,
    upto: int,
    state_glob: str,
    agg_rows: list[tuple] | None = None,
    topk_rows: list[tuple] | None = None,
    topk_k: int = 0,
    lookups: list[tuple] = (),
    scans: list[tuple] = (),
    compare_content_bytes: bool = False,
) -> list[str]:
    """Compare a run's outputs with the reference.

    - ``state_glob``: parquet of the engine's final visible state as
      (repo, path, _seq, content_sha, lang, content_bytes);
    - ``agg_rows``: ``(lang, n_rows, sum_seq)`` from the aggregate view;
    - ``topk_rows``: ``(lang, rank, repo, path, seq)`` from the top-k view;
    - ``lookups``: ``(upto, repo, path, [(seq, content_sha), ...])``;
    - ``scans``: ``(upto, lang, seq_lo, seq_hi, count)`` for
      ``lang = ? AND seq_lo <= _seq < seq_hi``.
    """
    errors: list[str] = []
    cb = "content_bytes" if compare_content_bytes else "NULL::INTEGER"
    for name, src in (
        ("ref", f"({reference_state(upto)})"),
        ("got", f"read_parquet('{state_glob}')"),
    ):
        con.execute(
            f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT repo, path, _seq, "
            f"content_sha, lang, {cb} AS content_bytes FROM {src}"
        )
    for a, b, label in (("got", "ref", "unexpected"), ("ref", "got", "missing")):
        n, sample = con.execute(
            f"SELECT count(*), min(repo || '/' || path) FROM "
            f"(SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})"
        ).fetchone()
        if n:
            errors.append(f"final state: {n} {label} rows, e.g. {sample}")

    if agg_rows is not None:
        want = sorted(con.execute(
            "SELECT lang, count(*), sum(_seq)::BIGINT FROM ref GROUP BY lang"
        ).fetchall())
        got = sorted((str(l), int(n), int(s)) for l, n, s in agg_rows)
        if got != want:
            errors.append(f"aggregate view: {got} != reference {want}")
    if topk_rows is not None:
        want = sorted(con.execute(
            f"""SELECT lang, rk, repo, path, _seq FROM (
                    SELECT *, row_number() OVER (PARTITION BY lang
                        ORDER BY _seq DESC, repo, path) AS rk FROM ref)
                WHERE rk <= {int(topk_k)}"""
        ).fetchall())
        got = sorted(
            (str(l), int(r), str(rp), str(p), int(s)) for l, r, rp, p, s in topk_rows
        )
        if got != want:
            errors.append(f"top-k view: {len(got)} rows differ from reference")

    for i, (at, repo, path, rows) in enumerate(lookups):
        want = con.execute(
            "SELECT _seq, sha256(content) FROM "
            f"({_winners(at, 'repo = $1 AND path = $2')})", [repo, path],
        ).fetchall()
        if sorted(rows) != sorted(want):
            errors.append(f"lookup {i} ({repo}/{path} after batch {at}): {rows} != {want}")
    for i, (at, lang, lo, hi, count) in enumerate(scans):
        (want,) = con.execute(
            f"SELECT count(*) FROM ({_winners(at)}) "
            "WHERE lang = ? AND _seq >= ? AND _seq < ?", [lang, lo, hi],
        ).fetchone()
        if count != want:
            errors.append(f"scan {i} (lang={lang}, [{lo},{hi}) after batch {at}): {count} != {want}")
    return errors
