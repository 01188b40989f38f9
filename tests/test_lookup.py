"""TargetTable.lookup: bucket-pruned point reads."""
import pytest
from pyspark.sql import functions as F
from data_ingestor_py_spark.plans import bloom, inspect
from data_ingestor_py_spark.plans.scd import create_history_table
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.session import local_frame
from data_ingestor_py_spark.sources import change_events
from data_ingestor_py_spark.plans.replay import replay, split_batches
import os, tempfile, uuid

def _mkroot():
    d = tempfile.mkdtemp(prefix="lookup-")
    os.rmdir(d)
    return d

def test_lookup_prunes_buckets_and_matches_filter(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=16,
    )
    ev = change_events(spark, 8000, n_repos=30, paths_per_repo=20, seed=5)
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")
    replay(t, split_batches(ev, 2), prepare=prep)

    probes = [{"repo": "repo-3", "path": "f3.py"}, {"repo": "repo-7", "path": "f11.py"}]
    got = t.lookup(probes)
    # correctness: equals the naive full-scan filter
    want = t.read().where(
        ((F.col("repo") == "repo-3") & (F.col("path") == "f3.py"))
        | ((F.col("repo") == "repo-7") & (F.col("path") == "f11.py"))
    )
    assert sorted(map(tuple, got.select("repo","path","lang").collect())) == \
           sorted(map(tuple, want.select("repo","path","lang").collect()))
    # pruning: the lookup scan touches at most 2 of 16 bucket dirs
    full_dirs = {os.path.dirname(f) for f in t.read().inputFiles()}
    probe_dirs = {os.path.dirname(f) for f in got.inputFiles()}
    assert len(probe_dirs) <= 2 < len(full_dirs)

def test_lookup_validates_probes(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string")], num_buckets=4,
    )
    with pytest.raises(ValueError, match="at least one"):
        t.lookup([])
    with pytest.raises(ValueError, match="bucket column"):
        t.lookup([{"repo": "r"}])  # path (bucket col) unbound
    with pytest.raises(ValueError, match="same column set"):
        t.lookup([{"repo": "a", "path": "b"}, {"repo": "a"}])
    with pytest.raises(ValueError, match="key columns"):
        t.lookup([{"repo": "a", "path": "b", "lang": "x"}])

def test_lookup_large_probe_set_semijoin(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=8,
    )
    ev = change_events(spark, 6000, n_repos=20, paths_per_repo=25, seed=9)
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")
    replay(t, split_batches(ev, 2), prepare=prep)
    keys = [r for r in t.read().select("repo", "path").limit(100).collect()]
    probes = [{"repo": r["repo"], "path": r["path"]} for r in keys]
    got = t.lookup(probes).select("repo", "path").collect()
    assert sorted(map(tuple, got)) == sorted({(r["repo"], r["path"]) for r in keys})


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def cow_table(spark):
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string"), ("content", "string")], num_buckets=16,
    )
    ev = change_events(spark, 4000, n_repos=20, paths_per_repo=20, seed=13)
    prep = lambda df, i: df.select("repo", "path", "lang", "content", "_seq", "_op", "_ts")
    replay(t, split_batches(ev, 2), prepare=prep)
    return t


def test_lookup_routing_runs_no_spark_job(spark, cow_table):
    key = cow_table.read().select("repo", "path").first()
    got, n_build = _jobs(spark, lambda: cow_table.lookup(
        [{"repo": key["repo"], "path": key["path"]}]
    ))
    assert n_build == 0
    rows, n_collect = _jobs(spark, got.collect)
    assert n_collect == 1  # the pruned bucket read only
    assert [(r["repo"], r["path"]) for r in rows] == [(key["repo"], key["path"])]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_python_built_frames_are_local_relations(spark, cow_table):
    history = create_history_table(spark, _mkroot(), ["k"], [("v", "string")], num_buckets=4)
    frames = {
        "local_frame": local_frame(
            spark, [("a", 1, [1, 2]), (None, None, None)], "s string, n bigint, xs array<int>"
        ),
        "empty_state": cow_table._empty_state(cow_table._load()),
        "empty_closed_log": history.read_closed(),
        "history_df": inspect.history_df(cow_table),
        "files_df": inspect.files_df(cow_table),
        "snapshots_df": inspect.snapshots_df(cow_table),
    }
    for name, df in frames.items():
        _, n = _jobs(spark, df.collect)
        assert n == 0, name
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)
    assert frames["local_frame"].collect() == [("a", 1, [1, 2]), (None, None, None)]
    assert frames["files_df"].count() > 0
    pos, n = _jobs(spark, lambda: bloom.probe_positions(spark, ["x", "y"], 1 << 16, 7))
    assert n == 0 and sorted(pos) == ["x", "y"] and len(pos["x"]) == 7


def test_lookup_null_keys_route_to_writer_bucket(spark):
    """A NULL key column is a real key value: the None probe hashes to the
    bucket dir the writer chose, on the filter path (<=64 probes) and on
    the broadcast semi-join path (>64)."""
    t = TargetTable.create(
        spark, _mkroot(), key_cols=["repo", "path"],
        columns=[("lang", "string")], num_buckets=16,
    )
    nulls = [(None, "p1"), ("r1", None), (None, None)]
    rows = [(r, p, f"v{i}", i, "U") for i, (r, p) in enumerate(nulls)]
    rows += [(f"r{i}", f"p{i}", f"w{i}", 100 + i, "U") for i in range(40)]
    batch = spark.createDataFrame(
        rows, "repo string, path string, lang string, _seq long, _op string"
    ).withColumn("_ts", F.timestamp_seconds(F.col("_seq")))
    t.merge_apply(batch)

    def bkt_dirs(files):
        return {os.path.basename(os.path.dirname(f)) for f in files}

    misses = [{"repo": f"absent{i}", "path": "x"} for i in range(70)]
    for k in nulls:
        stored = t.read().where(
            F.col("repo").eqNullSafe(k[0]) & F.col("path").eqNullSafe(k[1])
        ).select(F.input_file_name()).collect()
        writer = bkt_dirs(r[0] for r in stored)
        assert len(writer) == 1
        probe = {"repo": k[0], "path": k[1]}
        for probes in ([probe], [probe] + misses):
            got = t.lookup(probes)
            assert [(r["repo"], r["path"]) for r in got.collect()] == [k], (k, len(probes))
            read = bkt_dirs(got.inputFiles())
            assert read == writer if len(probes) == 1 else writer <= read
