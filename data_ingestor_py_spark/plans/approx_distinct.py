"""Approximate COUNT(DISTINCT x) maintenance via HyperLogLog sketches.

The exact counting view (plans/distinct_mv.py) is O(delta) per refresh but
its auxiliary state is O(distinct (group, value)) — for corpus-scale
cardinalities (distinct tokens per domain at 100 TB) the aux table rivals
the corpus itself. This module is the complement: per-group state is ONE
fixed-size Datasketches HLL sketch (2^lgk registers, ~KB), folded with
Spark's native ``hll_sketch_agg`` / ``hll_union`` (JVM-side, mergeable),
at the price of a bounded relative error (~1.6%% at the default lgk=12)
and a weaker retraction story:

- **inserts fold exactly like sketches union**: HLL registers are
  max-folds, so sketching the delta and unioning into the stored sketch
  yields the same state as sketching the whole set — insert-only refresh
  is O(delta) and schedule-independent (pinned by tests).
- **retractions cannot be subtracted from a sketch** (the known HLL
  limitation, stated rather than papered over): any group with a
  retracted value re-aggregates its sketch absolutely from the source
  pinned at the fold version, filtered to exactly those groups — the
  same targeted-recompute discipline as the MIN/MAX MV. A typical
  append-mostly stream touches no retraction groups, so the common case
  stays O(delta); the worst case is one filtered source scan, never a
  recompute of untouched groups. No-op updates (old value == new value)
  are filtered out before classification.

Crash contract: unlike COUNT/SUM, the HLL fold is RE-FOLDABLE — union is
idempotent over sets (re-unioning an already-folded delta changes
nothing) and the re-agg path is absolute — so the merge/checkpoint crash
gap needs no app_meta roll-forward: a crashed refresh is simply re-run
and converges (pinned by test).

Distinctness is evaluated on the value's STRING rendering (injective for
the id/category columns this exists for); NULL values are ignored,
matching SQL ``COUNT(DISTINCT ...)``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_py_spark.plans.checkpoint import BatchRecord, Checkpoint
from data_ingestor_py_spark.plans.mv import RefreshGapError
from data_ingestor_py_spark.plans.target import TargetTable
from data_ingestor_py_spark.storage import StorageAdapter

DEFAULT_LGK = 12  # Datasketches HLL lgConfigK: ~1.6% relative std error


class ApproxDistinct:
    """Maintains ``group_cols -> hll_sketch(value_col)`` from a source
    table's changelog; :meth:`read` exposes the estimates."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        source: TargetTable,
        group_cols: list[str],
        value_col: str,
        lgk: int = DEFAULT_LGK,
        storage: StorageAdapter | None = None,
    ):
        self.spark = spark
        self.source = source
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.lgk = int(lgk)
        self.table = TargetTable(spark, root, storage=storage)
        self.cp = Checkpoint(spark, root, storage=self.table.io)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        source: TargetTable,
        group_cols: list[str],
        value_col: str,
        lgk: int = DEFAULT_LGK,
        num_buckets: int = 4,
        storage: StorageAdapter | None = None,
    ) -> "ApproxDistinct":
        TargetTable.create(
            spark, root,
            key_cols=list(group_cols),
            columns=[("sketch", "binary")],
            num_buckets=num_buckets, storage=storage,
        )
        return cls(
            spark, root, source, group_cols, value_col, lgk=lgk,
            storage=storage,
        )

    # ---------------- state ----------------

    def read(self) -> DataFrame:
        """(group..., n_approx) — the HLL estimates, computed JVM-side."""
        return self.table.read().select(
            *self.group_cols,
            F.hll_sketch_estimate("sketch").alias("n_approx"),
        )

    def synced_version(self) -> int:
        done = self.cp.committed_batches()
        return max(done) if done else 0

    # ---------------- refresh ----------------

    def _sketch_of(self, rows: DataFrame) -> DataFrame:
        """(group..., _new sketch) for (group..., _dv) rows."""
        return rows.groupBy(*self.group_cols).agg(
            F.hll_sketch_agg("_dv", F.lit(self.lgk)).alias("_new")
        )

    def _group_cond(self, a: DataFrame, b: DataFrame):
        cond = F.lit(True)
        for g in self.group_cols:
            cond = cond & a[g].eqNullSafe(b[g])
        return cond

    def refresh(
        self, upto_version: int | None = None, auto_reseed: bool = False
    ) -> BatchRecord | None:
        """Fold the source changelog ``(synced, upto]``. Insert-only
        groups union O(delta) sketches; groups with retractions
        re-aggregate absolutely from the version-pinned source."""
        v_from = self.synced_version()
        v_to = (
            upto_version
            if upto_version is not None
            else self.source._load()["version"]
        )
        if v_to <= v_from:
            return None
        t0 = time.time()
        src_keys = set(self.source._load()["key_cols"])
        try:
            # persisted: retracts and inserts are separate reads of the
            # same diff subtree — cache so the full-outer changelog join
            # runs once. Keep the persisted handle separate: `delta` is
            # reassigned to filtered children below, and unpersisting a
            # CHILD plan would not release this cache entry (r7
            # self-review finding).
            delta0 = self.source.diff_versions(
                v_from, v_to, old_image=True
            ).persist()
            delta = delta0
        except FileNotFoundError as e:
            if auto_reseed:
                return self.reseed()
            raise RefreshGapError(
                f"cannot diff source versions {v_from}->{v_to} (expired "
                "snapshot); call reseed()"
            ) from e

        c = self.value_col

        def img(col: str, old: bool):
            if col in src_keys or not old:
                return F.col(col)
            return F.col(f"_old_{col}")

        if c not in src_keys:
            # an update that leaves the value unchanged contributes
            # nothing to the distinct SET — drop it before classifying so
            # payload churn on other columns never triggers re-aggregation
            delta = delta.where(
                ~(
                    (F.col("_change_type") == "U")
                    & img(c, True).eqNullSafe(img(c, False))
                )
            )
        else:
            # a KEY column can never change inside an update image (the
            # key identifies the row), so U rows neither add nor retract
            # a key-valued distinct member — without this, every update
            # on a key-valued view routes its group through the absolute
            # re-aggregation scan (self-review r6 finding)
            delta = delta.where(F.col("_change_type") != "U")
        retracts = (
            delta.where(F.col("_change_type") != "I")
            .where(img(c, True).isNotNull())
            .select(
                *[
                    img(g, True).cast("string").alias(g)
                    for g in self.group_cols
                ]
            )
            .distinct()
            .persist()
        )
        inserts = (
            delta.where(F.col("_change_type") != "D")
            .where(img(c, False).isNotNull())
            .select(
                *[
                    img(g, False).cast("string").alias(g)
                    for g in self.group_cols
                ],
                img(c, False).cast("string").alias("_dv"),
            )
        )
        try:
            # fast path: groups untouched by retraction union their delta
            fast = inserts.join(
                F.broadcast(retracts),
                self._group_cond(inserts, retracts),
                "left_anti",
            )
            folded = self._sketch_of(fast)
            cur = self.table.read().select(*self.group_cols, "sketch")
            j = folded.join(cur, self._group_cond(folded, cur), "left_outer")
            # always store a UNION product — never a direct sketch. A
            # direct Datasketches sketch estimates via HIP, which depends
            # on insertion/partitioning order; a union product estimates
            # from the registers alone, which are a pure function of the
            # value SET (probed empirically: shuffled inputs and different
            # split points yield identical union estimates). Normalizing
            # through hll_union(s, s) for brand-new groups is what makes
            # maintained == recompute EXACT, not just within error.
            fast_up = j.select(
                *[folded[g].alias(g) for g in self.group_cols],
                F.hll_union(
                    F.coalesce(cur["sketch"], folded["_new"]), folded["_new"]
                ).alias("sketch"),
                F.lit("U").alias("_op"),
            )
            parts = [fast_up]
            if retracts.limit(1).count() > 0:
                # re-agg path: absolute sketches for retraction groups
                # from the source pinned at the fold's target version
                srcv = self.source.read_version(v_to).select(
                    *[
                        F.col(g).cast("string").alias(g)
                        for g in self.group_cols
                    ],
                    F.col(c).cast("string").alias("_dv"),
                ).where(F.col("_dv").isNotNull())
                pinned = srcv.join(
                    F.broadcast(retracts),
                    self._group_cond(srcv, retracts),
                    "left_semi",
                )
                reagg = self._sketch_of(pinned).select(
                    *self.group_cols,
                    # union-normalized for the same set-determinism
                    F.hll_union("_new", "_new").alias("sketch"),
                    F.lit("U").alias("_op"),
                )
                gone = retracts.join(
                    reagg, self._group_cond(retracts, reagg), "left_anti"
                ).select(
                    *self.group_cols,
                    F.lit(None).cast("binary").alias("sketch"),
                    F.lit("D").alias("_op"),
                )
                parts += [reagg, gone]
            up = parts[0]
            for p in parts[1:]:
                up = up.unionByName(p)
            st = self.table.merge_apply(
                up.select(
                    *self.group_cols, "sketch", "_op",
                    F.lit(v_to).cast("long").alias("_seq"),
                    F.current_timestamp().alias("_ts"),
                ),
                stats="light",
                # group-scale sketches; lineage = diff + sketch agg, run once
                persist_batch=True,
            )
        finally:
            retracts.unpersist()
            delta0.unpersist()
        t1 = time.time()
        rec = BatchRecord(
            batch_id=v_to, src_offset_start=v_from, src_offset_end=v_to,
            rows_in=st.rows_in, rows_applied=st.rows_after_dedup,
            touched_buckets=st.touched_buckets,
            snapshot_version=st.snapshot_version, checksum="",
            status="COMMITTED", started_at=t0, committed_at=t1,
            duration_s=t1 - t0,
        )
        self.cp.commit(rec)
        return rec

    # ---------------- reseed / verification ----------------

    def reseed(self) -> BatchRecord:
        """Absolute rebuild at the source's current version (recovery for
        expired changelog bases; bootstrap on a populated source)."""
        v_to = self.source._load()["version"]
        t0 = time.time()
        src = self.source.read_version(v_to).select(
            *[F.col(g).cast("string").alias(g) for g in self.group_cols],
            F.col(self.value_col).cast("string").alias("_dv"),
        ).where(F.col("_dv").isNotNull())
        want = self._sketch_of(src)
        cur = self.table.read().select(*self.group_cols, "sketch")
        merged = want.join(
            cur, self._group_cond(want, cur), "full_outer"
        ).select(
            *[F.coalesce(want[g], cur[g]).alias(g) for g in self.group_cols],
            F.hll_union(want["_new"], want["_new"]).alias("sketch"),
            F.when(want["_new"].isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("_op"),
            F.lit(v_to).cast("long").alias("_seq"),
            F.current_timestamp().alias("_ts"),
        )
        st = self.table.merge_apply(merged, stats="light", persist_batch=True)
        t1 = time.time()
        rec = BatchRecord(
            batch_id=v_to, src_offset_start=-1, src_offset_end=v_to,
            rows_in=st.rows_in, rows_applied=st.rows_after_dedup,
            touched_buckets=st.touched_buckets,
            snapshot_version=st.snapshot_version, checksum="",
            status="COMMITTED", started_at=t0, committed_at=t1,
            duration_s=t1 - t0,
        )
        self.cp.commit(rec)
        return rec

    def recompute(self, version: int | None = None) -> DataFrame:
        """O(source) sketch reference: the maintained estimates must equal
        these EXACTLY. Both sides estimate from union-normalized sketches,
        whose registers (and thus composite estimate) are a pure function
        of the value set — a direct sketch's HIP estimator would instead
        vary with insertion/partitioning order."""
        src = (
            self.source.read()
            if version is None
            else self.source.read_version(version)
        )
        return (
            src.select(
                *[
                    F.col(g).cast("string").alias(g)
                    for g in self.group_cols
                ],
                F.col(self.value_col).cast("string").alias("_dv"),
            )
            .where(F.col("_dv").isNotNull())
            .groupBy(*self.group_cols)
            .agg(F.hll_sketch_agg("_dv", F.lit(self.lgk)).alias("_s"))
            .select(
                *self.group_cols,
                F.hll_sketch_estimate(F.hll_union("_s", "_s")).alias(
                    "n_approx"
                ),
            )
        )

    def exact(self, version: int | None = None) -> DataFrame:
        """The exact twin, for error-bound verification."""
        src = (
            self.source.read()
            if version is None
            else self.source.read_version(version)
        )
        return src.groupBy(
            *[F.col(g).cast("string").alias(g) for g in self.group_cols]
        ).agg(
            F.count_distinct(
                F.col(self.value_col).cast("string")
            ).alias("n_exact")
        )
