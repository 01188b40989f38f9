"""The reference checker must pass a correct run and fail a corrupted one.

    python3 -m pytest perfbench/test_reference.py -q

Runs on DuckDB alone (no Spark): a handful of hand-written events, the
state they must produce, and single-row corruptions of that state.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import reference  # noqa: E402

# (batch, repo, path, _seq, _op, lang, content)
EVENTS = [
    (0, "r1", "a", 1, "I", "py", "x"),
    (0, "r1", "b", 2, "I", "go", "y"),
    (0, "r2", "a", 3, "I", "py", "z"),
    (1, "r1", "a", 5, "U", "rs", "x2"),
    (1, "r1", "a", 5, "U", "rs", "x2"),  # exact duplicate
    (1, "r1", "b", 4, "D", "go", None),  # delete wins over seq 2
    (1, "r2", "a", 0, "U", "py", "late"),  # late event, must lose to seq 3
]


def sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


# visible state after batch 1, computed by hand
STATE = [("r1", "a", 5, sha("x2"), "rs"), ("r2", "a", 3, sha("z"), "py")]
AGG = [("py", 1, 3), ("rs", 1, 5)]
TOPK = [("py", 1, "r2", "a", 3), ("rs", 1, "r1", "a", 5)]
LOOKUPS = [
    (0, "r1", "b", [(2, sha("y"))]),
    (1, "r1", "b", []),
    (1, "r1", "a", [(5, sha("x2"))]),
]
SCANS = [(1, "py", 0, 10, 1), (0, "py", 0, 10, 2)]


@pytest.fixture()
def con(tmp_path):
    src = duckdb.connect()
    src.execute(
        "CREATE TABLE e (_b INT, repo VARCHAR, path VARCHAR, _seq BIGINT, "
        "_op VARCHAR, lang VARCHAR, content VARCHAR)"
    )
    src.executemany("INSERT INTO e VALUES (?, ?, ?, ?, ?, ?, ?)", EVENTS)
    src.execute(
        f"COPY (SELECT *, 1 AS _schema_version FROM e) TO '{tmp_path}/events' "
        "(FORMAT parquet, PARTITION_BY (_b))"
    )
    c = reference.connect(f"{tmp_path}/events/*/*.parquet")
    yield c
    c.close()


def write_state(tmp_path, rows) -> str:
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE s (repo VARCHAR, path VARCHAR, _seq BIGINT, "
        "content_sha VARCHAR, lang VARCHAR)"
    )
    c.executemany("INSERT INTO s VALUES (?, ?, ?, ?, ?)", rows)
    path = f"{tmp_path}/state.parquet"
    c.execute(
        f"COPY (SELECT *, NULL::INTEGER AS content_bytes FROM s) TO '{path}' (FORMAT parquet)"
    )
    return path


def run_check(con, tmp_path, state=STATE, agg=AGG, topk=TOPK, lookups=LOOKUPS, scans=SCANS):
    return reference.check(
        con, 1, write_state(tmp_path, state), agg_rows=agg, topk_rows=topk,
        topk_k=1, lookups=lookups, scans=scans,
    )


def test_correct_run_passes(con, tmp_path):
    assert run_check(con, tmp_path) == []


@pytest.mark.parametrize("field", [2, 3, 4])
def test_one_corrupted_state_row_fails(con, tmp_path, field):
    bad = list(STATE[0])
    bad[field] = bad[field] + 1 if field == 2 else "corrupt"
    errors = run_check(con, tmp_path, state=[tuple(bad)] + STATE[1:])
    assert any(e.startswith("final state") for e in errors)


def test_missing_and_resurrected_rows_fail(con, tmp_path):
    assert run_check(con, tmp_path, state=STATE[:1])
    deleted = ("r1", "b", 2, sha("y"), "go")
    assert run_check(con, tmp_path, state=STATE + [deleted])


def test_corrupted_views_fail(con, tmp_path):
    assert run_check(con, tmp_path, agg=[("py", 1, 3), ("rs", 1, 6)])
    assert run_check(con, tmp_path, topk=[("py", 1, "r2", "a", 3), ("rs", 1, "r1", "b", 5)])


def test_stale_lookup_and_wrong_scan_fail(con, tmp_path):
    stale = [(1, "r1", "a", [(1, sha("x"))])]
    assert run_check(con, tmp_path, lookups=stale)
    assert run_check(con, tmp_path, scans=[(1, "py", 0, 10, 2)])
