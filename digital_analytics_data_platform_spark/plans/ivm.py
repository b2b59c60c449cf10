"""Exact incremental view maintenance (IVM) of a grouped-aggregate
mart from a source LakeTable's image changelog — the Flink
retract-stream / Materialize-style consumer the exact changelog exists
for: every update contributes (+after, −before), every delete retracts
its before-image, so SUM/COUNT (and AVG = sum/cnt at read time) marts
stay exactly equal to a full recompute without ever rescanning the
source.

Reference analog: the reference maintains its gold rollups by
re-aggregating lookback windows per run (e.g. the 120-day weekly MERGE,
``sql/02_SDI_SA360/03_GOLD/MERGE/01_sp_merge_sdi_gold_sa360_campaign_
weekly.sql``) — correct only because its facts are immutable after the
lookback horizon. IVM removes the horizon assumption: arbitrarily late
updates and deletes retract exactly, at O(changed groups) per sync.

Scale shape: one changelog read (O(touched buckets + delta), see
``LakeTable.read_changelog``), one map-side-combinable hash agg over
the window's contributions, one bucket-pruned read of the mart
restricted to the touched groups, one MERGE of O(changed groups) rows.
No step is O(source table) or O(mart).

Exactly-once: the sync cursor (``ivm_src_version``) rides the SAME
atomic commit as the mart MERGE (``merge_changes(extra_props=…)``) —
a crash between "totals applied" and "cursor advanced" cannot happen,
and a replayed window is ledger-skipped.

Invertible aggregates (COUNT, SUM, SUM-of-squares, and anything
derivable — AVG, rates, population variance/stddev =
``sumsq/cnt − (sum/cnt)²``) are maintained purely from the window;
exact COUNT(DISTINCT) composes two rollups (``DistinctCountRollup``).
MIN/MAX are not
invertible, so they use the dirty-group split (the Materialize /
Flink-retract compromise): inserts fold in incrementally
(``least``/``greatest``); a group is re-aggregated from the source
only when a retraction ties its stored extremum and no insert in the
window re-covers it — a bucket-pruned, key-semi-joined read of just
the dirty groups, never an O(source) rescan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.merge import merge_changes
from ..lake.table import (
    _BLOOM_M_DEFAULT,
    DELETED_COL,
    LakeTable,
    bucket_of,
    empty_frame,
    keys_bloom,
    lww_collapse,
)

_CURSOR_PROP = "ivm_src_version"


class IncrementalRollup:
    """A LakeTable-backed SUM/COUNT (and optionally MIN/MAX) mart keyed
    by ``group_cols``, exactly maintained from a source table's
    ``read_changelog``."""

    def __init__(
        self,
        table: LakeTable,
        group_cols: list[str],
        sum_cols: list[str],
        min_cols: list[str] | None = None,
        max_cols: list[str] | None = None,
        require_cols: list[str] | None = None,
        sumsq_cols: list[str] | None = None,
    ):
        self.table = table
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.min_cols = list(min_cols or [])
        self.max_cols = list(max_cols or [])
        # sum-of-squares columns: invertible like SUM, so maintained
        # purely from the window; with cnt and sum_<c> they serve exact
        # population variance/stddev at read time:
        #   var_pop = sumsq/cnt − (sum/cnt)²  (the reference's anomaly
        # QA, A10, compares a latest week against a baseline AVG — this
        # extends that to dispersion-aware bounds with no extra scan)
        self.sumsq_cols = list(sumsq_cols or [])
        # rows with a null in any of these columns are excluded from the
        # fold (symmetrically for inserts and retractions, so exactness
        # is preserved). Default: the first group column only — a null
        # there is not an aggregatable key. DistinctCountRollup adds its
        # value column, matching COUNT(DISTINCT c)'s null-ignoring SQL
        # semantics.
        self.require_cols = list(require_cols or [self.group_cols[0]])

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def create(
        path: str,
        source: LakeTable,
        group_cols: list[str],
        sum_cols: list[str],
        *,
        min_cols: list[str] | None = None,
        max_cols: list[str] | None = None,
        n_buckets: int = 16,
        require_cols: list[str] | None = None,
        sumsq_cols: list[str] | None = None,
    ) -> "IncrementalRollup":
        """Create an empty rollup mart for ``source``. Group columns are
        typed from the source schema; measures land as ``sum_<col>``
        doubles plus a ``cnt`` long, and ``min_<col>``/``max_<col>``
        keep the source column's own type; ``_v`` (the source snapshot
        version of the sync that produced the row) is the LWW order
        column."""
        src_schema = source.snapshot().schema()
        fields = [T.StructField(g, src_schema[g].dataType) for g in group_cols]
        fields.append(T.StructField("cnt", T.LongType()))
        fields += [T.StructField(f"sum_{c}", T.DoubleType()) for c in sum_cols]
        fields += [T.StructField(f"sumsq_{c}", T.DoubleType()) for c in sumsq_cols or []]
        fields += [T.StructField(f"min_{c}", src_schema[c].dataType) for c in min_cols or []]
        fields += [T.StructField(f"max_{c}", src_schema[c].dataType) for c in max_cols or []]
        fields.append(T.StructField("_v", T.LongType()))
        tbl = LakeTable.create(
            path,
            T.StructType(fields),
            key_cols=list(group_cols),
            order_cols=["_v"],
            n_buckets=n_buckets,
        )
        return IncrementalRollup(
            tbl, group_cols, sum_cols, min_cols, max_cols, require_cols, sumsq_cols
        )

    @staticmethod
    def load(
        path: str,
        group_cols: list[str],
        sum_cols: list[str],
        min_cols: list[str] | None = None,
        max_cols: list[str] | None = None,
        require_cols: list[str] | None = None,
        sumsq_cols: list[str] | None = None,
    ) -> "IncrementalRollup":
        return IncrementalRollup(
            LakeTable.load(path), group_cols, sum_cols, min_cols, max_cols, require_cols, sumsq_cols
        )

    # -- maintenance ---------------------------------------------------------

    @property
    def tables(self) -> list[LakeTable]:
        """Every LakeTable this rollup writes (maintenance surface: the
        streaming runner compacts these on its periodic cadence)."""
        return [self.table]

    def cursor(self) -> int:
        return int(self.table.snapshot().props.get(_CURSOR_PROP, 0))

    def source_cursor(self) -> int:
        """Oldest SOURCE snapshot version this rollup still needs: the
        next sync reads the changelog ``since_version=cursor()``, so the
        source's :meth:`~..lake.table.LakeTable.expire_snapshots` must
        retain every version ``>= source_cursor()`` (the runner passes
        the min across its rollups as ``protect_versions_since``)."""
        return self.cursor()

    def expire(self, *, keep_last: int = 10) -> dict[str, int]:
        """Expire this rollup's own mart snapshots. The mart has no
        internal changelog consumer, so plain ``keep_last`` suffices."""
        return self.table.expire_snapshots(keep_last=keep_last)

    def sync(
        self, spark: SparkSession, source: LakeTable, *, strategy: str = "mor"
    ) -> dict[str, Any]:
        """Advance the mart to the source's current snapshot. Exact for
        any interleaving of inserts/updates/deletes/compactions in the
        window; idempotent under replay (ledger + atomic cursor).

        The mart MERGE defaults to MOR so each sync WRITES O(changed
        groups) — a COW mart merge would rewrite every touched bucket,
        re-coupling sync cost to mart size once deltas spread across
        buckets. The read side LWW-collapses appended versions; run
        ``lake.merge.compact(spark, rollup.table)`` on the same cadence
        as the source table's compaction to fold them."""
        since = self.cursor()
        head = source.snapshot().version
        if head <= since:
            return {"skipped": True, "since": since, "head": head}

        mm_src = list(dict.fromkeys(self.min_cols + self.max_cols))
        # Column-pruned changelog: the fold touches only group + measure
        # columns, so the image read never hauls the fat payload columns
        # (text) through scan/collapse/join. A payload-only update's
        # contributions would cancel to ±0 anyway — the pruned changelog
        # drops it before it costs anything.
        needed = list(
            dict.fromkeys(
                [*self.group_cols, *self.sum_cols, *self.sumsq_cols, *mm_src, *self.require_cols]
            )
        )
        clog = source.read_changelog(
            spark, since_version=since, until_version=head, columns=needed
        )

        def _side(img: str, sign: int) -> DataFrame:
            side = F.col(img)
            return clog.filter(side.isNotNull()).select(
                *[side[g].alias(g) for g in self.group_cols],
                F.lit(sign).cast("long").alias("cnt"),
                *[
                    (F.lit(sign) * F.coalesce(side[c].cast("double"), F.lit(0.0))).alias(f"sum_{c}")
                    for c in self.sum_cols
                ],
                *[
                    (
                        F.lit(sign)
                        * F.coalesce(side[c].cast("double") * side[c].cast("double"), F.lit(0.0))
                    ).alias(f"sumsq_{c}")
                    for c in self.sumsq_cols
                ],
                *[side[c].alias(f"_mm_{c}") for c in mm_src],
            )

        required = F.lit(True)
        for c in self.require_cols:
            required = required & F.col(c).isNotNull()
        contrib = _side("after", 1).unionByName(_side("before", -1)).filter(required)
        out = self._fold_apply(
            spark,
            contrib,
            batch_key=f"ivm:{since}->{head}",
            version_value=head,
            extra_props={_CURSOR_PROP: head},
            strategy=strategy,
            extrema_source=source,
            extrema_head=head,
        )
        return {"since": since, "head": head, **out}

    def _fold_apply(
        self,
        spark: SparkSession,
        contrib: DataFrame,
        *,
        batch_key: str,
        version_value: int,
        extra_props: dict[str, Any],
        strategy: str = "mor",
        extrema_source: LakeTable | None = None,
        extrema_head: int | None = None,
    ) -> dict[str, Any]:
        """Fold a signed-contribution retract stream into the mart and
        commit it with ``extra_props`` (the sync cursor[s]) riding the
        same atomic MERGE. ``contrib`` columns: ``group_cols``, ``cnt``
        (the ±1 sign), signed ``sum_<c>``/``sumsq_<c>``, and (MIN/MAX
        marts only) raw ``_mm_<c>`` candidate values. Shared by the
        changelog fold (:meth:`sync`) and the delta-join fold
        (:class:`JoinRollup`), which build different retract streams
        over the same mart algebra."""
        if (self.min_cols or self.max_cols) and extrema_source is None:
            raise ValueError("MIN/MAX mart folds need extrema_source/head for dirty recompute")
        ins = F.col("cnt") > 0  # inserted (after-image) vs retracted (before-image) rows
        deltas = contrib.groupBy(*self.group_cols).agg(
            F.sum("cnt").alias("d_cnt"),
            *[F.sum(f"sum_{c}").alias(f"d_sum_{c}") for c in self.sum_cols],
            *[F.sum(f"sumsq_{c}").alias(f"d_sumsq_{c}") for c in self.sumsq_cols],
            *[F.min(F.when(ins, F.col(f"_mm_{c}"))).alias(f"_ins_min_{c}") for c in self.min_cols],
            *[F.min(F.when(~ins, F.col(f"_mm_{c}"))).alias(f"_ret_min_{c}") for c in self.min_cols],
            *[F.max(F.when(ins, F.col(f"_mm_{c}"))).alias(f"_ins_max_{c}") for c in self.max_cols],
            *[F.max(F.when(~ins, F.col(f"_mm_{c}"))).alias(f"_ret_max_{c}") for c in self.max_cols],
        )
        # a group whose window contributions cancel exactly (pure no-op
        # churn) needs no mart row rewrite
        nonzero = F.col("d_cnt") != 0
        for c in self.sum_cols:
            nonzero = nonzero | (F.abs(F.col(f"d_sum_{c}")) > 0)
        for c in self.sumsq_cols:
            nonzero = nonzero | (F.abs(F.col(f"d_sumsq_{c}")) > 0)
        # MIN/MAX skip rule: retracted values come from rows live at the
        # old snapshot, so ret_min >= the group's old min. If the window's
        # inserted-min equals its retracted-min, any retraction AT the old
        # min is matched by an insert at the same value and no insert goes
        # below it — the extremum cannot move. (Symmetrically for max.)
        for c in self.min_cols:
            nonzero = nonzero | ~F.col(f"_ins_min_{c}").eqNullSafe(F.col(f"_ret_min_{c}"))
        for c in self.max_cols:
            nonzero = nonzero | ~F.col(f"_ins_max_{c}").eqNullSafe(F.col(f"_ret_max_{c}"))
        # Persist: deltas is O(changed groups) small, but its lineage
        # embeds the changelog read (a touched-bucket source scan).
        # Without this, the touched-bucket collect, the merge's stats
        # job and the merge's write job would EACH re-run that scan —
        # turning one O(touched+delta) read into three.
        deltas = deltas.filter(nonzero).persist()

        # current totals for ONLY the touched groups: bucket-pruned mart
        # read + the join itself restricts to delta groups
        snap = self.table.snapshot()
        touched = [
            r["b"]
            for r in deltas.select(bucket_of(self.group_cols[0], snap.n_buckets).alias("b"))
            .distinct()
            .collect()
        ]
        if not touched:
            # nothing to apply — still advance the cursor atomically
            deltas.unpersist()
            res = merge_changes(
                spark,
                self.table,
                empty_frame(spark, self._batch_schema(snap)),
                batch_key=batch_key,
                strategy=strategy,
                extra_props=extra_props,
            )
            return {"skipped": False, "groups": 0, "merge": res}

        cur = self.table.read(spark, buckets=touched).select(
            *self.group_cols,
            F.col("cnt").alias("_cur_cnt"),
            *[F.col(f"sum_{c}").alias(f"_cur_sum_{c}") for c in self.sum_cols],
            *[F.col(f"sumsq_{c}").alias(f"_cur_sumsq_{c}") for c in self.sumsq_cols],
            *[F.col(f"min_{c}").alias(f"_cur_min_{c}") for c in self.min_cols],
            *[F.col(f"max_{c}").alias(f"_cur_max_{c}") for c in self.max_cols],
        )
        merged = deltas.join(cur, on=self.group_cols, how="left")
        if self.min_cols or self.max_cols:
            merged = self._with_extrema(spark, extrema_source, extrema_head, merged)
        new_cnt = F.coalesce(F.col("_cur_cnt"), F.lit(0)) + F.col("d_cnt")
        batch = merged.select(
            *self.group_cols,
            new_cnt.alias("cnt"),
            *[
                (F.coalesce(F.col(f"_cur_sum_{c}"), F.lit(0.0)) + F.col(f"d_sum_{c}")).alias(
                    f"sum_{c}"
                )
                for c in self.sum_cols
            ],
            *[
                (F.coalesce(F.col(f"_cur_sumsq_{c}"), F.lit(0.0)) + F.col(f"d_sumsq_{c}")).alias(
                    f"sumsq_{c}"
                )
                for c in self.sumsq_cols
            ],
            *[F.col(f"_new_min_{c}").alias(f"min_{c}") for c in self.min_cols],
            *[F.col(f"_new_max_{c}").alias(f"max_{c}") for c in self.max_cols],
            F.lit(version_value).cast("long").alias("_v"),
            F.when(new_cnt <= 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        )
        res = merge_changes(
            spark,
            self.table,
            batch,
            batch_key=batch_key,
            strategy=strategy,
            extra_props=extra_props,
        )
        deltas.unpersist()
        return {
            "skipped": bool(res.skipped),
            # changed groups = logical delta; keys_written additionally
            # counts co-bucketed rewrites under COW (write amplification)
            "groups": res.inserts + res.updates + res.deletes + res.upserts,
            "keys_written": res.keys_written,
            "merge": res,
        }

    def _with_extrema(
        self, spark: SparkSession, source: LakeTable, head: int, merged: DataFrame
    ) -> DataFrame:
        """Resolve ``_new_min_<c>``/``_new_max_<c>`` for every delta group.

        MIN/MAX are not invertible, so the split is: groups whose window
        only ADDS candidate values stay incremental
        (``least(cur, ins)`` / ``greatest(cur, ins)``); a group is
        *dirty* — a retraction may have removed the last row carrying
        its current extremum — only when some retracted value ties the
        stored extremum AND no inserted value re-covers it. Dirty groups
        are re-aggregated from the source snapshot the window ends at,
        bucket-pruned when the first group column is the source's first
        key column (the common conv-keyed case) and always key-semi-
        joined, so the recompute is O(dirty groups' buckets), never
        O(source)."""
        dirty = F.lit(False)
        for c in self.min_cols:
            ret, ins_v, cur_v = (
                F.col(f"_ret_min_{c}"),
                F.col(f"_ins_min_{c}"),
                F.col(f"_cur_min_{c}"),
            )
            dirty = dirty | (
                ret.isNotNull()
                & cur_v.isNotNull()
                & (ret <= cur_v)
                & ~(ins_v.isNotNull() & (ins_v <= ret))
            )
        for c in self.max_cols:
            ret, ins_v, cur_v = (
                F.col(f"_ret_max_{c}"),
                F.col(f"_ins_max_{c}"),
                F.col(f"_cur_max_{c}"),
            )
            dirty = dirty | (
                ret.isNotNull()
                & cur_v.isNotNull()
                & (ret >= cur_v)
                & ~(ins_v.isNotNull() & (ins_v >= ret))
            )
        # persisted: O(changed groups) small, read by the dirty-bucket
        # collect below and again by the mart merge
        merged = merged.withColumn("_dirty", dirty).persist()

        src_snap = source.snapshot(head)
        aligned = self.group_cols[0] == src_snap.key_cols[0]
        if aligned:
            dirty_buckets = [
                r["b"]
                for r in merged.filter(F.col("_dirty"))
                .select(bucket_of(self.group_cols[0], src_snap.n_buckets).alias("b"))
                .distinct()
                .collect()
            ]
            has_dirty = bool(dirty_buckets)
        else:
            dirty_buckets = None
            has_dirty = merged.filter(F.col("_dirty")).limit(1).count() > 0

        if has_dirty:
            # three pruning tiers on the dirty-group source read: bucket
            # list (aligned keys), per-file keyset bloom when the source
            # carries `bloom_cols` on its first key (skips MOR delta
            # files holding none of the dirty groups' keys), and the
            # key semi-join as the correctness filter
            bloom_and = None
            src_key0 = src_snap.key_cols[0]
            if aligned and src_key0 in (src_snap.props.get("bloom_cols") or []):
                keyset = keys_bloom(
                    merged.filter(F.col("_dirty")).select(self.group_cols[0]),
                    self.group_cols[0],
                    int(src_snap.props.get("bloom_m", _BLOOM_M_DEFAULT)),
                )
                if keyset is not None:
                    bloom_and = {src_key0: keyset}
            rec = (
                source.read(
                    spark, buckets=dirty_buckets, snapshot_version=head, bloom_and=bloom_and
                )
                .join(
                    merged.filter(F.col("_dirty")).select(*self.group_cols),
                    on=self.group_cols,
                    how="left_semi",
                )
                .groupBy(*self.group_cols)
                .agg(
                    *[F.min(c).alias(f"_rec_min_{c}") for c in self.min_cols],
                    *[F.max(c).alias(f"_rec_max_{c}") for c in self.max_cols],
                )
            )
            merged = merged.join(rec, on=self.group_cols, how="left")
        else:
            mart_schema = self.table.snapshot().schema()
            for c in self.min_cols:
                merged = merged.withColumn(
                    f"_rec_min_{c}", F.lit(None).cast(mart_schema[f"min_{c}"].dataType)
                )
            for c in self.max_cols:
                merged = merged.withColumn(
                    f"_rec_max_{c}", F.lit(None).cast(mart_schema[f"max_{c}"].dataType)
                )

        for c in self.min_cols:
            merged = merged.withColumn(
                f"_new_min_{c}",
                F.when(F.col("_dirty"), F.col(f"_rec_min_{c}")).otherwise(
                    F.least(F.col(f"_cur_min_{c}"), F.col(f"_ins_min_{c}"))
                ),
            )
        for c in self.max_cols:
            merged = merged.withColumn(
                f"_new_max_{c}",
                F.when(F.col("_dirty"), F.col(f"_rec_max_{c}")).otherwise(
                    F.greatest(F.col(f"_cur_max_{c}"), F.col(f"_ins_max_{c}"))
                ),
            )
        return merged

    def _batch_schema(self, snap) -> T.StructType:
        fields = [f for f in snap.schema().fields if f.name != "_deleted"]
        return T.StructType(fields + [T.StructField("op", T.StringType())])

    # -- consumption -------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """The mart's live totals (``avg_<c>`` derivable as
        ``sum_<c>/cnt`` by the reader)."""
        return self.table.read(spark).drop("_v")


class DistinctCountRollup:
    """Exact ``COUNT(DISTINCT value_col)`` per group, maintained
    incrementally — the aggregate the plain retract fold cannot carry
    (distinct-ness is not a commutative sum), solved by the classic
    two-level IVM decomposition, here as a *composition of two
    IncrementalRollups* rather than new machinery:

    - a **support mart** grouped by ``(*group_cols, value_col)`` counts
      the live source rows behind each (group, value) pair — an
      ordinary exact SUM/COUNT consumer of the SOURCE's changelog;
    - the **outer mart** grouped by ``group_cols`` consumes the SUPPORT
      MART's own changelog: a support row appearing is exactly a new
      distinct value (+1), a support row tombstoning (live count hit 0)
      is exactly a distinct value disappearing (−1), and a
      multiplicity-only update (count 3→4) is an update envelope whose
      +1/−1 cancels. The outer ``cnt`` is therefore the exact distinct
      count at every sync.

    Reference analog: the ``COUNT(DISTINCT Quarter) > 1 →
    'boundary_week'`` classification (A8, `sql/13_SDI_MFC_DATABRICKS_
    UPDATED (Original)/01_BRONZE/01_sdi_vw_mfc_bronze_spendActuals_
    weekly:33-38`), which the reference recomputes over its lookback
    window each run; this maintains it exactly under arbitrarily late
    updates/deletes at O(changed groups + changed values) per sync.

    Null values contribute nothing (SQL COUNT(DISTINCT) semantics),
    via the support rollup's ``require_cols``. Crash-safety composes:
    each level's cursor rides its own mart's atomic commit, and a crash
    between the two syncs just leaves the outer level to catch up on
    the support mart's already-durable changelog next sync.

    Scale shape: support syncs cost what any rollup sync costs
    (O(touched + delta) changelog read, hash agg, O(changed pairs) MOR
    merge); the outer sync reads the SUPPORT changelog — O(changed
    (group, value) pairs), never the source. Skew-safe: a hot group
    with millions of distinct values spreads over the support mart's
    hash buckets; the outer fold sees one ±1 per changed value, partial-
    aggregated map-side like every other sum.
    """

    def __init__(self, support: IncrementalRollup, outer: IncrementalRollup, value_col: str):
        self.support = support
        self.outer = outer
        self.value_col = value_col

    @staticmethod
    def create(
        path: str,
        source: LakeTable,
        group_cols: list[str],
        value_col: str,
        *,
        n_buckets: int = 16,
    ) -> "DistinctCountRollup":
        support = IncrementalRollup.create(
            f"{path}/support",
            source,
            [*group_cols, value_col],
            sum_cols=[],
            n_buckets=n_buckets,
            require_cols=[group_cols[0], value_col],
        )
        outer = IncrementalRollup.create(
            f"{path}/distinct",
            support.table,
            list(group_cols),
            sum_cols=[],
            n_buckets=n_buckets,
        )
        return DistinctCountRollup(support, outer, value_col)

    @staticmethod
    def load(path: str, group_cols: list[str], value_col: str) -> "DistinctCountRollup":
        support = IncrementalRollup.load(
            f"{path}/support",
            [*group_cols, value_col],
            sum_cols=[],
            require_cols=[group_cols[0], value_col],
        )
        outer = IncrementalRollup.load(f"{path}/distinct", list(group_cols), sum_cols=[])
        return DistinctCountRollup(support, outer, value_col)

    @property
    def tables(self) -> list[LakeTable]:
        """Both levels' marts — see :attr:`IncrementalRollup.tables`."""
        return [self.support.table, self.outer.table]

    def source_cursor(self) -> int:
        """Oldest SOURCE version still needed = the inner support
        level's cursor (the outer level consumes the support mart's
        changelog, not the source's)."""
        return self.support.cursor()

    def expire(self, *, keep_last: int = 10) -> dict[str, int]:
        """Expire both marts' snapshots — with the composition-aware
        floor: the SUPPORT mart's changelog is consumed by the outer
        level, so its expiry protects every version >= the outer's
        cursor; the outer mart has no internal consumer."""
        r_support = self.support.table.expire_snapshots(
            keep_last=keep_last, protect_versions_since=self.outer.cursor()
        )
        r_outer = self.outer.table.expire_snapshots(keep_last=keep_last)
        return {k: r_support[k] + r_outer[k] for k in r_support}

    def sync(self, spark: SparkSession, source: LakeTable, *, strategy: str = "mor") -> dict[str, Any]:
        r_support = self.support.sync(spark, source, strategy=strategy)
        r_outer = self.outer.sync(spark, self.support.table, strategy=strategy)
        return {
            "support": r_support,
            "outer": r_outer,
            "groups": r_outer.get("groups", 0),
            "skipped": bool(r_support.get("skipped")) and bool(r_outer.get("skipped")),
        }

    def read(self, spark: SparkSession) -> DataFrame:
        """Live ``(*group_cols, distinct_<value_col>)`` totals."""
        return self.outer.read(spark).withColumnRenamed("cnt", f"distinct_{self.value_col}")

    def read_topk(self, spark: SparkSession, k: int = 10) -> DataFrame:
        """Exact per-group heavy hitters, served entirely from the
        incrementally maintained SUPPORT mart (which already holds the
        live row count behind every (group, value) pair) — no source
        scan, no approximation, always current as of the last sync.

        Returns ``(*group_cols, <value_col>, value_rows, rank)`` with
        ``rank`` 1..k by descending live-row count, ties broken by
        value ascending (deterministic). Cost: one window over the
        support mart partitioned by group — O(mart), never O(source);
        the reference's nearest analog is the Top-N-per-group QUALIFY
        idiom (W4) re-run against the full fact table per refresh."""
        from pyspark.sql.window import Window

        groups = self.outer.group_cols
        sup = self.support.read(spark).select(
            *groups, self.value_col, F.col("cnt").alias("value_rows")
        )
        w = Window.partitionBy(*groups).orderBy(
            F.desc("value_rows"), F.asc(self.value_col)
        )
        return (
            sup.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )


class SketchRollup:
    """Approximate ``COUNT(DISTINCT value)`` per group via Apache
    DataSketches HLL, incrementally maintained — the bounded-memory
    companion to :class:`DistinctCountRollup`: the exact rollup's
    support mart stores one row per live (group, value) pair (exact,
    but O(distinct pairs) storage); this stores one ~KB sketch per
    group, the right trade once groups carry millions of distinct
    values.

    Maintenance exploits HLL's merge algebra: sketches union (register
    max) but never subtract, so the fold splits exactly like the
    MIN/MAX dirty-group rule in :class:`IncrementalRollup`:

    - windows that only INSERT into a group fold incrementally —
      ``hll_union(stored, hll_sketch_agg(window inserts))``, one JVM
      agg, no source access;
    - a group with ANY retraction (update's before-image or delete) is
      *dirty*: its sketch is re-built from the source snapshot at the
      window head — bucket-pruned when the group key prefixes the
      source key and always key-semi-joined, so the recompute is
      O(dirty groups' buckets), never O(source). (Conservative: a
      retraction whose value survives elsewhere still marks the group
      dirty — correctness first, cost bounded by dirty groups.)

    Accuracy: exact in coupon mode (small distinct sets); in HLL mode
    the standard bound (~1.04/√2^lg_k rsd). One honesty note, pinned by
    test: an incrementally-unioned sketch estimates with DataSketches'
    composite estimator (union invalidates the HIP accumulator a
    single-pass sketch keeps), so the fold's estimate can differ from a
    one-shot sketch of the same items by a fraction of the error bound
    — both remain within it. Register content is item-set-determined,
    so replay with the same window splits converges identically.

    Reference analog: the same ``COUNT(DISTINCT …)`` lookback
    recomputes as S28 — this is the path that still works when the
    distinct set itself is too large to materialize.

    Exactly-once: same contract as every rollup here — the sync cursor
    rides the mart MERGE's atomic commit.
    """

    def __init__(self, table: LakeTable, group_cols: list[str], value_col: str, lg_k: int = 12):
        self.table = table
        self.group_cols = list(group_cols)
        self.value_col = value_col
        self.lg_k = lg_k

    @staticmethod
    def create(
        path: str,
        source: LakeTable,
        group_cols: list[str],
        value_col: str,
        *,
        lg_k: int = 12,
        n_buckets: int = 16,
    ) -> "SketchRollup":
        src_schema = source.snapshot().schema()
        fields = [T.StructField(g, src_schema[g].dataType) for g in group_cols]
        fields.append(T.StructField("sketch", T.BinaryType()))
        fields.append(T.StructField("_v", T.LongType()))
        tbl = LakeTable.create(
            path,
            T.StructType(fields),
            key_cols=list(group_cols),
            order_cols=["_v"],
            n_buckets=n_buckets,
        )
        return SketchRollup(tbl, group_cols, value_col, lg_k)

    @staticmethod
    def load(path: str, group_cols: list[str], value_col: str, lg_k: int = 12) -> "SketchRollup":
        return SketchRollup(LakeTable.load(path), list(group_cols), value_col, lg_k)

    @property
    def tables(self) -> list[LakeTable]:
        return [self.table]

    def cursor(self) -> int:
        return int(self.table.snapshot().props.get(_CURSOR_PROP, 0))

    def source_cursor(self) -> int:
        """See :meth:`IncrementalRollup.source_cursor`."""
        return self.cursor()

    def expire(self, *, keep_last: int = 10) -> dict[str, int]:
        """See :meth:`IncrementalRollup.expire`."""
        return self.table.expire_snapshots(keep_last=keep_last)

    def sync(
        self, spark: SparkSession, source: LakeTable, *, strategy: str = "mor"
    ) -> dict[str, Any]:
        since = self.cursor()
        head = source.snapshot().version
        if head <= since:
            return {"skipped": True, "since": since, "head": head}
        g0 = self.group_cols[0]
        needed = list(dict.fromkeys([*self.group_cols, self.value_col]))
        clog = source.read_changelog(
            spark, since_version=since, until_version=head, columns=needed
        )

        def _side(img: str, flag: str) -> DataFrame:
            side = F.col(img)
            return clog.filter(side.isNotNull()).select(
                *[side[g].alias(g) for g in self.group_cols],
                side[self.value_col].alias(self.value_col),
                F.lit(flag == "ins").alias("_ins"),
            )

        rows = (
            _side("after", "ins")
            .unionByName(_side("before", "ret"))
            # null group key / null value contribute nothing (SQL
            # COUNT(DISTINCT) semantics), symmetrically on both sides
            .filter(F.col(g0).isNotNull() & F.col(self.value_col).isNotNull())
        )
        ins = F.col("_ins")
        win = rows.groupBy(*self.group_cols).agg(
            F.hll_sketch_agg(F.when(ins, F.col(self.value_col)), F.lit(self.lg_k)).alias(
                "_win_sketch"
            ),
            F.max(F.when(~ins, F.lit(True))).alias("_has_ret"),
        )
        # a group whose window has neither inserts nor retractions of
        # non-null values never reaches here; persist — small
        # (O(changed groups)) but its lineage embeds the changelog read
        win = win.withColumn("_dirty", F.coalesce(F.col("_has_ret"), F.lit(False))).persist()

        snap = self.table.snapshot()
        touched = [
            r["b"]
            for r in win.select(bucket_of(g0, snap.n_buckets).alias("b"))
            .distinct()
            .collect()
        ]
        if not touched:
            win.unpersist()
            res = merge_changes(
                spark,
                self.table,
                empty_frame(spark, self._batch_schema(snap)),
                batch_key=f"ivms:{since}->{head}",
                strategy=strategy,
                extra_props={_CURSOR_PROP: head},
            )
            return {"skipped": False, "since": since, "head": head, "groups": 0, "merge": res}

        cur = self.table.read(spark, buckets=touched).select(
            *self.group_cols, F.col("sketch").alias("_cur_sketch")
        )
        merged = win.join(cur, on=self.group_cols, how="left")

        # dirty groups: rebuild from the source snapshot at head —
        # bucket-pruned when the group key is the source's first key
        # column, always key-semi-joined (same tiers as the MIN/MAX
        # dirty recompute)
        src_snap = source.snapshot(head)
        aligned = g0 == src_snap.key_cols[0]
        dirty_keys = merged.filter(F.col("_dirty")).select(*self.group_cols)
        if aligned:
            dirty_buckets = [
                r["b"]
                for r in dirty_keys.select(bucket_of(g0, src_snap.n_buckets).alias("b"))
                .distinct()
                .collect()
            ]
            has_dirty = bool(dirty_buckets)
        else:
            dirty_buckets = None
            has_dirty = dirty_keys.limit(1).count() > 0

        if has_dirty:
            rec = (
                source.read(spark, buckets=dirty_buckets, snapshot_version=head)
                .join(F.broadcast(dirty_keys.distinct()), on=self.group_cols, how="left_semi")
                .filter(F.col(self.value_col).isNotNull())
                .groupBy(*self.group_cols)
                .agg(F.hll_sketch_agg(self.value_col, F.lit(self.lg_k)).alias("_rec_sketch"))
            )
            merged = merged.join(rec, on=self.group_cols, how="left")
        else:
            merged = merged.withColumn("_rec_sketch", F.lit(None).cast("binary"))

        # clean groups union stored ∪ window-inserts (hll_union is
        # null-tolerant via coalesce on either side); dirty groups take
        # the recompute — null recompute means the group lost its last
        # value → tombstone
        new_sketch = F.when(F.col("_dirty"), F.col("_rec_sketch")).otherwise(
            F.when(
                F.col("_cur_sketch").isNull(), F.col("_win_sketch")
            ).when(
                F.col("_win_sketch").isNull(), F.col("_cur_sketch")
            ).otherwise(F.hll_union("_cur_sketch", "_win_sketch"))
        )
        batch = merged.select(
            *self.group_cols,
            new_sketch.alias("sketch"),
            F.lit(head).cast("long").alias("_v"),
            F.when(new_sketch.isNull(), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        )
        res = merge_changes(
            spark,
            self.table,
            batch,
            batch_key=f"ivms:{since}->{head}",
            strategy=strategy,
            extra_props={_CURSOR_PROP: head},
        )
        n_dirty = merged.filter(F.col("_dirty")).count()
        win.unpersist()
        return {
            "skipped": bool(res.skipped),
            "since": since,
            "head": head,
            "groups": res.inserts + res.updates + res.deletes + res.upserts,
            "dirty_groups": int(n_dirty),
            "merge": res,
        }

    def _batch_schema(self, snap) -> T.StructType:
        fields = [f for f in snap.schema().fields if f.name != DELETED_COL]
        return T.StructType(fields + [T.StructField("op", T.StringType())])

    def read(self, spark: SparkSession) -> DataFrame:
        """Live ``(*group_cols, approx_distinct_<value_col>)``."""
        return self.table.read(spark).select(
            *self.group_cols,
            F.hll_sketch_estimate("sketch")
            .cast("long")
            .alias(f"approx_distinct_{self.value_col}"),
        )


_FACT_CURSOR = "ivm_fact_version"
_DIM_CURSOR = "ivm_dim_version"


class JoinRollup:
    """Exact incremental maintenance of a **join-then-aggregate** view —
    ``SELECT group_cols, COUNT(*), SUM(…) FROM fact JOIN dim USING
    (join_cols) GROUP BY group_cols`` — from BOTH tables' image
    changelogs (the Flink two-input delta-join / Materialize
    ``JOIN``-in-a-materialized-view analog, composed from S24's exact
    changelog and S27's retract fold).

    The multiset identity that makes one pass exact::

        F₁⋈D₁ − F₀⋈D₀  =  ΔF⋈D₁  +  F₀⋈ΔD

    where ΔF/ΔD are the *signed* image changelogs (+after, −before) of
    the fact/dim windows and F₀/D₁ are snapshot reads at the old fact /
    new dim version. Cross-window interactions (a fact row AND its dim
    row both changing in the same window) cancel by construction, so
    the fold needs no coordination between the two feeds — each side's
    delta joins one static snapshot of the other.

    Reference analog: every gold mart in the reference re-joins its
    full lookback window to dimension tables per run (e.g. the campaign
    weekly MERGE re-joining calendar + account dims over 120 days);
    this maintains the joined rollup at O(Δfact·matched + Δdim·matched)
    per sync with no horizon assumption — a late dim update (a campaign
    re-mapped to a new account mid-quarter) retracts exactly the joined
    contributions it previously produced.

    Scale shape per sync: two column-pruned changelog reads (each
    O(touched buckets + delta)); two snapshot probe reads, each
    restricted to the OTHER side's changed join keys — bucket-pruned
    and keyset-bloom-pruned when the join column is that table's first
    key column (the designed layout: dim keyed by the join key, fact
    key-prefixed by it), and always key-semi-joined; one hash agg over
    the joined contributions (map-side combinable ±sums); one
    O(changed groups) MOR mart MERGE. No step is O(fact), O(dim), or
    O(mart). Skew: a hot join key (one conversation with millions of
    events joined to one dim row) broadcasts the dim probe — the join
    is then map-side and never shuffles the fact delta.

    Exactly-once: BOTH cursors (``ivm_fact_version``,
    ``ivm_dim_version``) ride the mart MERGE's atomic commit, so a
    crash can never apply a window twice (ledger) or advance one cursor
    without the other.

    Inner equi-join only: rows with null join keys never match (SQL
    semantics). Left-join marts need per-key support counts to retract
    null-extensions — compose :class:`DistinctCountRollup`-style if
    needed. MIN/MAX are not supported (a joined retraction's dirty
    recompute would need the joined view, not one source); SUM / COUNT /
    SUM-of-squares (→ AVG, variance) are exact.
    """

    def __init__(
        self,
        rollup: IncrementalRollup,
        dim: LakeTable,
        join_cols: list[str],
        fact_cols: list[str],
        dim_cols: list[str],
        *,
        broadcast_keys_max_rows: int = 2_000_000,
    ):
        if rollup.min_cols or rollup.max_cols:
            raise ValueError("JoinRollup maintains SUM/COUNT/SUMSQ only (no MIN/MAX)")
        self.rollup = rollup
        self.table = rollup.table
        self.dim = dim
        self.join_cols = list(join_cols)
        self.fact_cols = list(fact_cols)  # non-join columns read from the fact side
        self.dim_cols = list(dim_cols)  # non-join columns read from the dim side
        self.broadcast_keys_max_rows = broadcast_keys_max_rows

    # -- lifecycle ---------------------------------------------------------

    @staticmethod
    def _split_cols(
        fact: LakeTable, dim: LakeTable, join_cols: list[str], referenced: list[str]
    ) -> tuple[list[str], list[str]]:
        """Resolve which side owns each referenced column. Join columns
        exist on both sides (read from whichever the plan touches);
        every other column must be unambiguous."""
        f_names = {f.name for f in fact.snapshot().schema().fields}
        d_names = {f.name for f in dim.snapshot().schema().fields}
        fact_cols, dim_cols = [], []
        for c in referenced:
            if c in join_cols:
                continue
            in_f, in_d = c in f_names, c in d_names
            if in_f and in_d:
                raise ValueError(
                    f"column {c!r} exists in both fact and dim — rename one side "
                    "(join columns are the only legal overlap)"
                )
            if in_f:
                fact_cols.append(c)
            elif in_d:
                dim_cols.append(c)
            else:
                raise ValueError(f"column {c!r} in neither fact nor dim schema")
        return fact_cols, dim_cols

    @staticmethod
    def create(
        path: str,
        fact: LakeTable,
        dim: LakeTable,
        *,
        join_cols: list[str],
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        sumsq_cols: list[str] | None = None,
        n_buckets: int = 16,
    ) -> "JoinRollup":
        """Create an empty joined-rollup mart. ``group_cols`` /
        ``sum_cols`` may reference columns from either side; join
        columns themselves may group."""
        sum_cols = list(sum_cols or [])
        sumsq_cols = list(sumsq_cols or [])
        referenced = list(dict.fromkeys([*group_cols, *sum_cols, *sumsq_cols]))
        fact_cols, dim_cols = JoinRollup._split_cols(fact, dim, join_cols, referenced)
        f_schema = fact.snapshot().schema()
        d_schema = dim.snapshot().schema()

        def _typ(c: str) -> T.DataType:
            if c in {f.name for f in f_schema.fields}:
                return f_schema[c].dataType
            return d_schema[c].dataType

        fields = [T.StructField(g, _typ(g)) for g in group_cols]
        fields.append(T.StructField("cnt", T.LongType()))
        fields += [T.StructField(f"sum_{c}", T.DoubleType()) for c in sum_cols]
        fields += [T.StructField(f"sumsq_{c}", T.DoubleType()) for c in sumsq_cols]
        fields.append(T.StructField("_v", T.LongType()))
        tbl = LakeTable.create(
            path,
            T.StructType(fields),
            key_cols=list(group_cols),
            order_cols=["_v"],
            n_buckets=n_buckets,
        )
        roll = IncrementalRollup(tbl, list(group_cols), sum_cols, sumsq_cols=sumsq_cols)
        return JoinRollup(roll, dim, join_cols, fact_cols, dim_cols)

    @staticmethod
    def load(
        path: str,
        dim: LakeTable,
        *,
        join_cols: list[str],
        group_cols: list[str],
        sum_cols: list[str] | None = None,
        sumsq_cols: list[str] | None = None,
        fact_schema: T.StructType | None = None,
    ) -> "JoinRollup":
        tbl = LakeTable.load(path)
        roll = IncrementalRollup(
            tbl, list(group_cols), list(sum_cols or []), sumsq_cols=list(sumsq_cols or [])
        )
        referenced = list(dict.fromkeys([*group_cols, *(sum_cols or []), *(sumsq_cols or [])]))
        d_names = {f.name for f in dim.snapshot().schema().fields}
        dim_cols = [c for c in referenced if c in d_names and c not in join_cols]
        fact_cols = [c for c in referenced if c not in d_names and c not in join_cols]
        return JoinRollup(roll, dim, join_cols, fact_cols, dim_cols)

    # -- maintenance ---------------------------------------------------------

    @property
    def tables(self) -> list[LakeTable]:
        """Marts this rollup WRITES (the dim is read-only here)."""
        return [self.table]

    def cursors(self) -> tuple[int, int]:
        props = self.table.snapshot().props
        return int(props.get(_FACT_CURSOR, 0)), int(props.get(_DIM_CURSOR, 0))

    def source_cursor(self) -> int:
        """Oldest FACT version still needed (the runner streams into the
        fact table; the dim's retention floor is :meth:`dim_cursor` for
        callers that also maintain/expire the dim)."""
        return self.cursors()[0]

    def dim_cursor(self) -> int:
        """Oldest DIM version still needed by the next sync."""
        return self.cursors()[1]

    def expire(self, *, keep_last: int = 10) -> dict[str, int]:
        """See :meth:`IncrementalRollup.expire` (the dim is read-only
        here — its owner expires it with ``dim_cursor()`` as the floor)."""
        return self.table.expire_snapshots(keep_last=keep_last)

    def _signed_images(self, clog: DataFrame, cols: list[str]) -> DataFrame:
        """Flatten an image changelog into signed rows: +1 per after
        image, −1 per before image."""

        def _side(img: str, sign: int) -> DataFrame:
            s = F.col(img)
            return clog.filter(s.isNotNull()).select(
                *[s[c].alias(c) for c in cols], F.lit(sign).cast("long").alias("_sign")
            )

        return _side("after", 1).unionByName(_side("before", -1))

    def _probe(
        self,
        spark: SparkSession,
        table: LakeTable,
        version: int,
        keys: DataFrame,
        cols: list[str],
        *,
        broadcast_ok: bool,
    ) -> DataFrame:
        """Read ``cols`` of ``table``'s live rows at ``version``,
        restricted to the join-key tuples in ``keys``. Three pruning
        tiers when the first join column is the table's first key
        column: manifest bucket list, per-file keyset bloom
        (``bloom_cols``), then the semi-join as the correctness filter.
        Pre-collapse row filtering is applied only on that first KEY
        column (all LWW versions of a key share it, so
        filter∘collapse ≡ collapse∘filter); payload join columns are
        matched only after the collapse — filtering them earlier could
        elect a stale version as the filtered subset's latest."""
        snap = table.snapshot(version)
        j0 = self.join_cols[0]
        aligned = j0 == snap.key_cols[0]
        buckets = None
        bloom_and = None
        if aligned:
            buckets = [
                r["b"]
                for r in keys.select(bucket_of(j0, snap.n_buckets).alias("b"))
                .distinct()
                .collect()
            ]
            if not buckets:
                out_schema = T.StructType([snap.schema()[c] for c in cols])
                return empty_frame(spark, out_schema)
            if j0 in (snap.props.get("bloom_cols") or []) and broadcast_ok:
                keyset = keys_bloom(
                    keys.select(j0), j0, int(snap.props.get("bloom_m", _BLOOM_M_DEFAULT))
                )
                if keyset is not None:
                    bloom_and = {j0: keyset}
        raw = table.read(
            spark,
            buckets=buckets,
            snapshot_version=version,
            bloom_and=bloom_and,
            include_deleted=True,
            collapse=False,
        )
        needed = list(dict.fromkeys([*cols, *snap.key_cols, *snap.order_cols, DELETED_COL]))
        raw = raw.select(*needed)

        def _hint(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if broadcast_ok else df

        if aligned:
            raw = raw.join(_hint(keys.select(j0).distinct()), on=j0, how="left_semi")
        live = lww_collapse(raw, snap.key_cols, snap.order_cols).filter(~F.col(DELETED_COL))
        return live.join(_hint(keys), on=self.join_cols, how="left_semi").select(*cols)

    def sync(
        self, spark: SparkSession, fact: LakeTable, *, strategy: str = "mor"
    ) -> dict[str, Any]:
        """Advance the joined mart to (fact head, dim head). Exact for
        any interleaving of inserts/updates/deletes on either side —
        including fact rows re-keyed to a different join value and dim
        payload rewrites that move whole join groups; idempotent under
        replay (ledger + atomic dual cursor)."""
        f0, d0 = self.cursors()
        f1 = fact.snapshot().version
        d1 = self.dim.snapshot().version
        if f1 <= f0 and d1 <= d0:
            return {"skipped": True, "fact": (f0, f1), "dim": (d0, d1)}

        need_f = list(dict.fromkeys([*self.join_cols, *self.fact_cols]))
        need_d = list(dict.fromkeys([*self.join_cols, *self.dim_cols]))
        out_cols = [*self.join_cols, *self.fact_cols, *self.dim_cols, "_sign"]
        parts: list[DataFrame] = []
        pinned: list[DataFrame] = []
        if f1 > f0:
            d_fact = self._signed_images(
                fact.read_changelog(spark, since_version=f0, until_version=f1, columns=need_f),
                need_f,
            ).persist()
            pinned.append(d_fact)
            small = d_fact.limit(self.broadcast_keys_max_rows + 1).count() <= self.broadcast_keys_max_rows
            dim_probe = self._probe(
                spark,
                self.dim,
                d1,
                d_fact.select(*self.join_cols).distinct(),
                need_d,
                broadcast_ok=small,
            )
            parts.append(d_fact.join(dim_probe, on=self.join_cols, how="inner").select(*out_cols))
        if d1 > d0:
            d_dim = self._signed_images(
                self.dim.read_changelog(spark, since_version=d0, until_version=d1, columns=need_d),
                need_d,
            ).persist()
            pinned.append(d_dim)
            small_d = d_dim.limit(self.broadcast_keys_max_rows + 1).count() <= self.broadcast_keys_max_rows
            fact_probe = self._probe(
                spark,
                fact,
                f0,
                d_dim.select(*self.join_cols).distinct(),
                need_f,
                broadcast_ok=small_d,
            )
            parts.append(fact_probe.join(d_dim, on=self.join_cols, how="inner").select(*out_cols))

        contrib_rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        roll = self.rollup
        contrib = contrib_rows.select(
            *roll.group_cols,
            F.col("_sign").alias("cnt"),
            *[
                (F.col("_sign") * F.coalesce(F.col(c).cast("double"), F.lit(0.0))).alias(f"sum_{c}")
                for c in roll.sum_cols
            ],
            *[
                (
                    F.col("_sign")
                    * F.coalesce(F.col(c).cast("double") * F.col(c).cast("double"), F.lit(0.0))
                ).alias(f"sumsq_{c}")
                for c in roll.sumsq_cols
            ],
        )
        required = F.lit(True)
        for c in roll.require_cols:
            required = required & F.col(c).isNotNull()
        out = roll._fold_apply(
            spark,
            contrib.filter(required),
            batch_key=f"ivmj:{f0},{d0}->{f1},{d1}",
            # strictly monotone across syncs (at least one cursor
            # advanced), so mart LWW under MOR appends stays correct
            version_value=f1 + d1,
            extra_props={_FACT_CURSOR: f1, _DIM_CURSOR: d1},
            strategy=strategy,
        )
        for df in pinned:
            df.unpersist()
        return {"fact": (f0, f1), "dim": (d0, d1), **out}

    # -- consumption -------------------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """The joined mart's live totals (``avg_<c>`` = ``sum_<c>/cnt``,
        ``var_pop_<c>`` = ``sumsq_<c>/cnt − (sum_<c>/cnt)²`` derivable
        by the reader)."""
        return self.table.read(spark).drop("_v")
