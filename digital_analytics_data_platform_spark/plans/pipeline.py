"""Medallion orchestration: one micro-batch drives Bronze → Silver →
Gold → QA, the Spark-first re-expression of the reference's scheduled
CALL chain (``orchestration/bigquery/Paid Search Dashboard
Orchestration/00_sdi_sa360_paid_search_sp_call.sql:1-17`` →
``sp_bronze_* → QA → sp_silver_* → QA → sp_gold_*`` per
``sql/02_SDI_SA360/…/Orchestration``).

Incremental contract (the reference's lookback-window discipline,
SURVEY.md §2.9), priced by the batch rather than the table:

- **Silver from the batch.** Silver is a per-row map of Bronze
  (:func:`build_silver`: classification, text metrics, an as-of join to
  a static dimension) with Bronze's key (``conv_id, turn_idx``) and LWW
  order (``ts, lsn``). So the batch's own clean events merge straight
  into Silver, ``D`` events as tombstones, in one merge: LWW keeps the
  same winning event per key in both tables, and the map of the winner
  is the winner of the map. Rows ``garbage_predicate`` rejects are
  dropped first, because Bronze's DLQ already holds them.
- **Gold from Silver's changelog.** Each mart commits the Silver version
  it reflects (its cursor) in the same atomic commit as its merge. A
  batch reads Silver's before/after-image changelog since the cursors;
  the ``(qgp_week, conv_id)`` groups the images name are the dirty
  groups. Gold recomputes those groups from Silver, bucket-pruned to
  their conversations, and tombstones the mart keys in them that the
  recompute no longer yields (the reference's scoped ``WHEN NOT MATCHED
  BY SOURCE … DELETE``). A delete or a day-moving update names its
  turn's OLD day in the before-image, so reading only the mart buckets
  of the dirty days/weeks finds every row to tombstone.
- **Two persisted marts, two views.** ``gold_daily`` and ``gold_weekly``
  are tables; each long mart is the unpivot of its wide mart
  (:func:`gold_long`), served by :meth:`MedallionPipeline.read` and
  ``register_views`` as a view, so a batch commits five times: Bronze,
  Silver, the two marts and its QA rows.
- **QA as one scan, appended.** The per-batch checks run as one fused
  aggregation over the batch's scope, and their rows append
  merge-on-read to ``qa_results``: a row's key carries its run id, so
  no existing bucket needs reading, and ``run_maintenance`` folds the
  delta tail.

Every layer write goes through the same exactly-once MERGE kernel as
Bronze, so replaying a batch is a no-op at every layer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.merge import (
    _LEDGER_KEY, MergeResult, align_to_fields, compact, garbage_predicate, merge_changes, replace_full,
)
from ..lake.table import DELETED_COL, LakeTable, bucket_of, file_diff
from ..operators.calendar import qgp_week
from .quality import run_quality_checks
from .transcripts import build_silver, gold_daily_wide, gold_long, gold_weekly_wide

# Table prop each gold mart commits atomically with its merge: the Silver
# version the mart reflects (the `IncrementalRollup.sync` cursor pattern).
_CURSOR_PROP = "silver_version"
# (mart, key columns); a mart buckets by its first key column
_MARTS = (
    ("gold_daily", ["day", "conv_id"]),
    ("gold_weekly", ["qgp_week", "conv_id"]),
)
# every table the pipeline owns; maintenance, tagging and rollback act on
# these alone, so a stray directory under the base dir is never touched
_TABLES = ("bronze", "silver", *(name for name, _ in _MARTS), "qa_results")
# long view → (the wide mart it unpivots, the wide mart's keys)
_LONG_VIEWS = {f"{name}_long": (name, keys) for name, keys in _MARTS}
# Silver columns gold_daily_wide reads besides the conv_id key, ts and lsn
# included: a change confined to any other column moves no mart.
_GOLD_INPUTS = ["day", "role", "n_tokens", "turn_kind", "ts", "lsn"]


@dataclass
class MedallionResult:
    bronze: MergeResult
    silver: MergeResult | None = None
    gold_daily: MergeResult | None = None
    gold_weekly: MergeResult | None = None
    qa: list = field(default_factory=list)
    full_audit: list | None = None
    maintenance: list | None = None


class MedallionPipeline:
    """Owns the medallion's lake tables and applies CDC batches through them."""

    def __init__(
        self,
        base_dir: str,
        *,
        n_buckets: int = 64,
        conv_dim: DataFrame | None = None,
        strategy: str = "cow",
        run_qa: bool = True,
        write_salt: int = 1,
        full_audit_every: int = 16,
        expire_snapshots_every: int = 64,
        keep_snapshots: int = 64,
    ):
        self.base_dir = base_dir
        self.n_buckets = n_buckets
        self.conv_dim = conv_dim
        self.strategy = strategy
        self.run_qa = run_qa
        # >1 spreads a hot conversation's bronze writes over several
        # tasks (skew mitigation; same knob as merge_changes)
        self.write_salt = write_salt
        # Run the O(table) full audit every N applied batches (0 = only
        # when the caller invokes run_full_audit) — the reference's
        # scheduled-orchestration QA cadence
        # (``orchestration/bigquery/…/00_sdi_sa360_paid_search_sp_call.sql``)
        # expressed as a batch-count schedule. Defaults ON (16): the
        # per-batch QA only validates the batch recompute (rows labeled
        # gold_recompute), so without a scheduled audit persisted-mart
        # drift would go undetected. The counter is process-local by
        # design: a restart re-arms the schedule, it never skips audits.
        self.full_audit_every = full_audit_every
        self._batches_since_audit = 0
        # Storage-lifecycle cadence: every N applied batches, expire old
        # snapshot manifests (keeping the newest ``keep_snapshots`` per
        # table, and Silver's from the lowest gold cursor on — this
        # bounds the time-travel horizon) and vacuum uncommitted-write
        # orphans. The pipeline writes one manifest per table per batch,
        # so an unexpired 10^10-event replay would accumulate O(100k)
        # manifest files each carrying a full file list; the cadence
        # keeps the metadata O(keep_snapshots). 0 disables (caller schedules
        # run_maintenance itself).
        self.expire_snapshots_every = expire_snapshots_every
        self.keep_snapshots = keep_snapshots
        self._batches_since_expiry = 0

    # -- table handles -----------------------------------------------------

    def _path(self, layer: str) -> str:
        return os.path.join(self.base_dir, layer)

    def create_tables(self, bronze_schema: T.StructType) -> None:
        """DDL step (the reference's explicit per-table DDL discipline,
        ``sql/02_SDI_SA360/01_BRONZE/DDL/00_create_…``). Silver/Gold
        schemas are derived lazily on first merge (schema evolution
        handles later additions)."""
        LakeTable.create(
            self._path("bronze"), bronze_schema, ["conv_id", "turn_idx"], ["ts", "lsn"],
            n_buckets=self.n_buckets,
        )

    def _ensure(self, layer: str, df: DataFrame, key_cols: list[str], order_cols: list[str]) -> LakeTable:
        path = self._path(layer)
        if LakeTable.exists(path):
            return LakeTable.load(path)
        return LakeTable.create(
            path,
            T.StructType([df.schema[c] for c in df.columns if c != "op"]),
            key_cols,
            order_cols,
            n_buckets=self.n_buckets,
        )

    def _cursors(self) -> dict[str, int | None]:
        """Each gold mart's Silver cursor: 0 for a mart not created yet,
        whose first refresh reads Silver from its empty version 0; None
        for a mart persisted without one (a lake written before marts
        carried cursors), which the next refresh rebuilds in full."""
        out = {}
        for name, _ in _MARTS:
            path = self._path(name)
            if not LakeTable.exists(path):
                out[name] = 0
                continue
            cursor = LakeTable.load(path).snapshot().props.get(_CURSOR_PROP)
            out[name] = None if cursor is None else int(cursor)
        return out

    # -- apply -------------------------------------------------------------

    def apply_batch(self, spark: SparkSession, batch: DataFrame, batch_id: int | str) -> MedallionResult:
        bronze_tbl = LakeTable.load(self._path("bronze"))
        res_b = merge_changes(
            spark, bronze_tbl, batch, batch_key=f"bronze:{batch_id}",
            strategy=self.strategy, write_salt=self.write_salt,
        )
        out = MedallionResult(bronze=res_b)
        if res_b.skipped:
            # Replay of an already-ledgered batch: Bronze is a no-op, but a
            # crash between the Bronze commit and the downstream merges
            # would otherwise leave Silver/Gold permanently missing this
            # batch. Fast path: if Silver holds the batch and every mart
            # has synced to Silver's head, the replay is FREE (the common
            # at-least-once redelivery case) — only a genuine crash
            # recovery re-runs the layers, where each layer's own ledger
            # key makes already-completed merges no-ops.
            if self._downstream_applied(batch_id):
                return out
        elif not res_b.affected_buckets:
            return out  # no clean event in the batch
        silver_tbl = self._merge_silver(spark, bronze_tbl, batch, batch_id, out)
        self._refresh_gold(spark, bronze_tbl, silver_tbl, batch_id, out)
        if self.full_audit_every:
            self._batches_since_audit += 1
            if self._batches_since_audit >= self.full_audit_every:
                self._batches_since_audit = 0
                out.full_audit = self.run_full_audit(spark)
        if self.expire_snapshots_every:
            self._batches_since_expiry += 1
            if self._batches_since_expiry >= self.expire_snapshots_every:
                self._batches_since_expiry = 0
                out.maintenance = self.run_maintenance(spark)
        return out

    def run_maintenance(
        self, spark: SparkSession, *, keep_snapshots: int | None = None, grace_seconds: float = 3600.0
    ) -> list:
        """Fold ``qa_results``' merge-on-read delta tail, then expire old
        snapshots and vacuum orphan files on every table the pipeline
        owns (``_TABLES``). Past the fold, driver-side manifest
        arithmetic only — no Spark jobs. Exactly-once ledgers live in
        each table's CURRENT snapshot props, so expiry never weakens
        replay idempotence; it only bounds how far back time travel can
        reach. Silver keeps every snapshot from the lowest mart cursor
        on: the next gold refresh reads Silver's changelog from there,
        including the files later commits removed."""
        keep = keep_snapshots or self.keep_snapshots
        if LakeTable.exists(self._path("qa_results")):
            compact(spark, LakeTable.load(self._path("qa_results")))
        floor = min((c for c in self._cursors().values() if c is not None), default=None)
        stats = []
        for name in _TABLES:
            path = self._path(name)
            if not LakeTable.exists(path):
                continue
            tbl = LakeTable.load(path)
            s = {"table": name}
            s.update(tbl.expire_snapshots(
                keep_last=keep, protect_versions_since=floor if name == "silver" else None
            ))
            orphans = tbl.remove_orphan_files(grace_seconds=grace_seconds)
            s.update({f"orphan_{k}": v for k, v in orphans.items()})
            stats.append(s)
        return stats

    def audit_and_publish(
        self,
        spark: SparkSession,
        *,
        tag: str = "published",
        as_of=None,
        max_ts=None,
        max_delay_hours: float = 24.0,
    ) -> dict:
        """Write-audit-publish gate (the Iceberg WAP-branch pattern on
        snapshot tags): the apply loop commits freely to each table's
        head, consumers read via ``read(spark, layer, tag=tag)``, and
        this gate moves the tag forward ONLY when the full audit finds
        no critical failure. On failure the tags stay at the last
        audited-good versions — consumers never see unaudited data —
        and the failing rows come back for the operator, whose recovery
        arm is :meth:`rollback_to_tag`.

        Versions are captured BEFORE the audit and the tags pinned to
        those captured versions, so a commit racing the audit can never
        get published unaudited (it waits for the next gate run).
        Single audit runner assumed (it runs in the apply loop's thread
        between batches), matching the pipeline's one-publisher design.
        """
        versions = {}
        for name in _TABLES:
            path = self._path(name)
            if LakeTable.exists(path):
                versions[name] = LakeTable.load(path).snapshot().version
        results = self.run_full_audit(
            spark, as_of=as_of, max_ts=max_ts, max_delay_hours=max_delay_hours
        )
        critical = [r for r in results if r["is_critical_failure"]]
        published = {}
        if not critical:
            for name, v in versions.items():
                published[name] = LakeTable.load(self._path(name)).set_tag(tag, v)
        return {
            "published": not critical,
            "tag": tag,
            "versions": published,
            "critical_failures": critical,
        }

    def rollback_to_tag(self, *, tag: str = "published", conflict_retries: int = 3) -> dict:
        """Restore every pipeline table to its ``tag``-pinned version —
        the last audited-good state — via :meth:`LakeTable.rollback`
        (history-preserving; each table's batch ledger is restored with
        its props, so re-feeding the rolled-back batches re-applies
        cleanly). ``qa_results`` is deliberately left at head: the audit
        rows that RECORDED the failure are observability evidence, not
        state to be reverted. Returns {table: new head version}."""
        out = {}
        for name in _TABLES:
            if name == "qa_results":
                continue
            path = self._path(name)
            if not LakeTable.exists(path):
                continue
            tbl = LakeTable.load(path)
            if tag in tbl.tags():
                out[name] = tbl.rollback(tag=tag, conflict_retries=conflict_retries).version
        return out

    def _downstream_applied(self, batch_id) -> bool:
        """True iff Silver's ledger records this batch and every mart's
        cursor has reached Silver's head (driver-side JSON reads — no
        Spark jobs). Conservative: a trimmed ledger entry or a missing
        table reads as not-applied, which only costs an idempotent
        re-run. (Per-batch QA rows are deliberately NOT gated on:
        they're observability, idempotently re-writable, and covered by
        the scheduled audit.)"""
        path = self._path("silver")
        if not LakeTable.exists(path):
            return False
        snap = LakeTable.load(path).snapshot()
        if f"silver:{batch_id}" not in snap.props.get(_LEDGER_KEY, {}):
            return False
        return all(c is not None and c >= snap.version for c in self._cursors().values())

    def _merge_silver(
        self, spark: SparkSession, bronze_tbl: LakeTable, batch: DataFrame, batch_id, out: MedallionResult
    ) -> LakeTable:
        """Silver from the batch: its clean events, aligned to Bronze's
        columns as the Bronze merge stages them, mapped by build_silver
        and merged in one go (``D`` events become tombstones)."""
        snap = bronze_tbl.snapshot()
        fields = [
            T.StructField(snap.logical_of(f.name), f.dataType)
            for f in snap.schema().fields
            if f.name != DELETED_COL and snap.logical_of(f.name) is not None
        ]
        staged = align_to_fields(batch, fields)
        if "op" not in staged.columns:
            staged = staged.withColumn("op", F.lit("U"))
        clean = staged.filter(~garbage_predicate(staged.schema, snap.key_cols, snap.order_cols))
        rows = build_silver(clean.select(*[f.name for f in fields], "op"), self.conv_dim)
        silver_tbl = self._ensure("silver", rows, snap.key_cols, snap.order_cols)
        out.silver = merge_changes(
            spark, silver_tbl, rows, batch_key=f"silver:{batch_id}", strategy=self.strategy
        )
        return silver_tbl

    def _refresh_gold(
        self, spark: SparkSession, bronze_tbl: LakeTable, silver_tbl: LakeTable,
        batch_id, out: MedallionResult,
    ) -> None:
        """Recompute the gold groups Silver's changelog marks dirty, merge
        them into both marts with each mart's new cursor, then run the
        per-batch QA over the same scope. A mart persisted without a
        cursor may have lost the Silver snapshots its changelog would
        start from, so then both marts are recomputed in full from
        Silver's head and replaced wholesale instead."""
        head = silver_tbl.snapshot()
        cursors = self._cursors()
        rebuild = None in cursors.values()
        lagging = sorted({c for c in cursors.values() if c is not None and c < head.version})
        if not (rebuild or lagging):
            return
        dirty = weeks = touched = None
        if rebuild:
            silver_scoped = silver_tbl.read(spark, snapshot_version=head.version)
            gold_in = silver_scoped
        else:
            dirty, touched = self._dirty_groups(spark, silver_tbl, head, lagging)
            weeks = dirty.select("qgp_week", "conv_id").distinct()
            silver_scoped = silver_tbl.read(spark, buckets=sorted(touched), snapshot_version=head.version)
            gold_in = silver_scoped.join(weeks, ["qgp_week", "conv_id"], "left_semi")
        # `_order` is the apply sequence (Bronze snapshot version), NOT
        # max(lsn): a recompute after a delete can have a *lower* max
        # lsn, and LWW on lsn would then keep the stale row. The apply
        # sequence is monotone per batch, so later recomputes always win.
        seq = bronze_tbl.snapshot().version
        apply_seq = F.lit(seq).cast("long")
        # A dirty week's recompute spans all its days, so the daily frame
        # is exact for every (day, conv_id) group it holds; both frames
        # feed a mart and QA, hence the persists.
        daily = gold_daily_wide(gold_in).persist()
        weekly = gold_weekly_wide(daily).persist()
        frames = {"gold_daily": daily, "gold_weekly": weekly}
        try:
            for name, keys in _MARTS:
                recomputed = frames[name].withColumn("_order", apply_seq)
                mart = self._ensure(name, recomputed, keys, ["_order"])
                kw = {"batch_key": f"{name}:{batch_id}", "extra_props": {_CURSOR_PROP: head.version}}
                if rebuild:
                    setattr(out, name, replace_full(spark, mart, recomputed, **kw))
                    continue
                # Deletion candidates need no mart read: a group a mart
                # holds at its cursor and loses by head lost every row it
                # had, and each of those rows' before-images names it.
                groups = (dirty if name == "gold_daily" else weeks).select(*keys)
                gone = groups.join(recomputed.select(*keys), keys, "left_anti").select(
                    *keys, F.lit("D").alias("op"), apply_seq.alias("_order")
                )
                setattr(out, name, merge_changes(
                    spark, mart,
                    recomputed.withColumn("op", F.lit("U")).unionByName(gone, allowMissingColumns=True),
                    strategy="cow", **kw,
                ))

            if self.run_qa:
                # Per-batch QA reads O(dirty) data: Bronze and Silver
                # scoped to the dirty conversations (so silver_rows_eq_bronze
                # checks Silver-from-the-batch against Bronze), the gold side
                # on the recomputed frames in hand — zero gold table reads
                # per batch. The unscoped audit still exists — as a
                # scheduled job via :meth:`run_full_audit`, which is the
                # reference's shape too (QA runs per scheduled orchestration,
                # not per chunk: ``orchestration/bigquery/…/
                # 00_sdi_sa360_paid_search_sp_call.sql:1-17``).
                if rebuild:
                    qa_bronze, qa_silver = bronze_tbl.read(spark), silver_scoped
                else:
                    convs = dirty.select("conv_id")
                    same_layout = bronze_tbl.snapshot().n_buckets == head.n_buckets
                    qa_bronze = bronze_tbl.read(spark, buckets=sorted(touched) if same_layout else None)
                    qa_bronze = qa_bronze.join(convs, "conv_id", "left_semi")
                    qa_silver = silver_scoped.join(convs, "conv_id", "left_semi")
                out.qa = run_quality_checks(
                    qa_bronze,
                    qa_silver,
                    daily,
                    weekly,
                    gold_daily_long=gold_long(daily, _MARTS[0][1]),
                    # the gold frames here are the batch RECOMPUTE, so
                    # label the rows honestly: they validate the
                    # recompute's internal consistency; the PERSISTED
                    # marts are audited by the scheduled run_full_audit
                    gold_layer="gold_recompute",
                )
                self._persist_qa(spark, out.qa, f"batch:{batch_id}", seq)
        finally:
            if dirty is not None:
                dirty.unpersist()
            daily.unpersist()
            weekly.unpersist()

    @staticmethod
    def _dirty_groups(
        spark: SparkSession, silver_tbl: LakeTable, head, lagging: list[int]
    ) -> tuple[DataFrame, set]:
        """The persisted ``(day, conv_id, qgp_week)`` groups Silver's
        before/after images name since the lagging cursors, and the
        Silver buckets those versions touched."""
        # One changelog per distinct cursor, not one from the lowest: a
        # turn inserted after a lagging cursor and deleted again by head
        # nets out of the longer window (both images null), yet a mart
        # that synced in between counted it. Cursors only differ after a
        # crash between mart merges, so a batch reads one changelog.
        imgs, touched = None, set()
        for since in lagging:
            clog = silver_tbl.read_changelog(
                spark, since_version=since, until_version=head.version, columns=_GOLD_INPUTS
            )
            named = clog.select("conv_id", F.explode(F.array("before.day", "after.day")).alias("day"))
            imgs = named if imgs is None else imgs.unionByName(named)
            # every changed key is in a file the window added or
            # removed, so those files' buckets hold every dirty conversation
            added, removed = file_diff(silver_tbl.snapshot(since), head)
            touched |= {f["bucket"] for f in added + removed}
        dirty = (
            imgs.filter(F.col("day").isNotNull())
            .distinct()
            .withColumn("qgp_week", qgp_week(F.col("day")))
            .persist()
        )
        return dirty, touched

    def run_full_audit(
        self, spark: SparkSession, *, as_of=None, max_ts=None, max_delay_hours: float = 24.0
    ) -> list:
        """The unscoped full-table audit (scheduled maintenance, not
        per-batch): every layer scanned once, results persisted to the
        queryable ``qa_results`` table. Run on a batch-count or wall-
        clock schedule; the per-batch path only audits touched data."""
        bronze_tbl = LakeTable.load(self._path("bronze"))
        results = run_quality_checks(
            bronze_tbl.read(spark),
            self.read(spark, "silver"),
            self.read(spark, "gold_daily"),
            self.read(spark, "gold_weekly"),
            gold_daily_long=self.read(spark, "gold_daily_long"),
            as_of=as_of,
            max_ts=max_ts,
            max_delay_hours=max_delay_hours,
        )
        self._persist_qa(spark, results, f"full_audit:v{bronze_tbl.snapshot().version}",
                         bronze_tbl.snapshot().version)
        return results

    def _persist_qa(self, spark: SparkSession, results: list, run_id: str, apply_seq: int) -> None:
        """QA rows land in a LakeTable (not loose JSON): the reference
        makes test results a first-class queryable product with dashboard
        views over it (``sql/02_SDI_SA360/01_BRONZE/tests/
        00_create_sdi_bronze_sa360_test_results.sql:18-45``,
        ``…03_GOLD/tests/99_view_sa360_test_dashboard.sql``).
        Key = (run_id, layer, test): a run's rows never collide with
        another run's, so they append merge-on-read without reading any
        existing bucket, and read-time LWW makes a replayed batch
        overwrite its own rows idempotently (``run_maintenance`` folds
        the delta tail); ``register_views`` exposes ``vw_qa_results``."""
        if not results:
            return
        rows = [
            {
                "qa_key": f"{run_id}|{r['test_layer']}|{r['test_name']}",
                "run_id": run_id,
                **r,
            }
            for r in results
        ]
        schema = T.StructType(
            [
                T.StructField("qa_key", T.StringType(), False),
                T.StructField("run_id", T.StringType(), False),
                T.StructField("test_layer", T.StringType(), False),
                T.StructField("test_name", T.StringType(), False),
                T.StructField("severity", T.StringType(), False),
                T.StructField("expected_value", T.DoubleType(), True),
                T.StructField("actual_value", T.DoubleType(), True),
                T.StructField("variance_value", T.DoubleType(), True),
                T.StructField("status", T.StringType(), False),
                T.StructField("is_critical_failure", T.BooleanType(), False),
                T.StructField("_order", T.LongType(), False),
            ]
        )
        df = spark.createDataFrame(
            [{**r, "_order": int(apply_seq)} for r in rows], schema
        )
        path = self._path("qa_results")
        if LakeTable.exists(path):
            tbl = LakeTable.load(path)
        else:
            tbl = LakeTable.create(
                path,
                T.StructType([f for f in schema.fields]),
                ["qa_key"],
                ["_order"],
                n_buckets=8,  # tiny table: a handful of rows per batch
            )
        merge_changes(spark, tbl, df, batch_key=f"qa:{run_id}", strategy="mor")

    def reconcile_backfill(
        self,
        spark: SparkSession,
        corrected: DataFrame,
        start,
        end,
        *,
        batch_key: str | None = None,
    ) -> MedallionResult:
        """S7: replay a corrected feed for ``ts ∈ [start, end)`` through
        the whole medallion. Bronze AND Silver windows are physically
        replaced (:func:`…lake.merge.reconcile_backfill`) — corrections
        may carry *older* ts than the wrong rows they supersede, so the
        LWW merge must not arbitrate them — then Gold refreshes from
        Silver's changelog, which is exact across the rewrite: a Silver
        row the correction omits is dropped by Silver's window replace
        and arrives as a delete, so a conversation the correction
        removes entirely has its gold rows tombstoned. Bronze's
        in-window ``D`` winners still reach Silver as tombstones: Silver
        is built from the batch, so without them a later stale event
        would lose in Bronze yet land in Silver.

        ``batch_key`` defaults to the window, which makes a *replay of
        the same correction* a no-op; a SECOND, different correction for
        the same window must pass its own key (e.g. a feed revision id)
        or it would be silently ledger-skipped.
        """
        from ..lake.merge import reconcile_backfill as lake_reconcile, window_file_buckets

        bronze_tbl = LakeTable.load(self._path("bronze"))
        batch_id = batch_key or f"reconcile:{start}:{end}"
        in_window = (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
        res_b = lake_reconcile(
            spark, bronze_tbl, corrected, start, end, batch_key=f"bronze:{batch_id}"
        )
        out = MedallionResult(bronze=res_b)
        if res_b.skipped:
            # Bronze already ledgered (crash between bronze and the
            # downstream reconciles, or a same-key replay): re-derive the
            # bucket scope and keep going — the silver reconcile and gold
            # merges are no-ops where they already committed.
            snap = bronze_tbl.snapshot()
            key_buckets = {
                int(r["_b"])
                for r in corrected.filter(F.col("conv_id").isNotNull())
                .select(bucket_of("conv_id", snap.n_buckets).alias("_b"))
                .distinct()
                .collect()
            }
            affected = sorted(key_buckets | window_file_buckets(snap, "ts", start, end))
        else:
            affected = res_b.affected_buckets
        if not affected:
            return out

        # Silver window-replace: feed = enriched bronze window rows plus
        # tombstones for keys the correction deleted (their D winners
        # survive in bronze as in-window tombstones)
        touched_all = bronze_tbl.read(spark, buckets=affected, include_deleted=True)
        live = touched_all.filter(in_window & ~F.col(DELETED_COL)).drop(DELETED_COL)
        silver_feed = build_silver(live, self.conv_dim).withColumn("op", F.lit("U"))
        silver_tbl = self._ensure("silver", silver_feed.drop("op"), ["conv_id", "turn_idx"], ["ts", "lsn"])
        dead = (
            touched_all.filter(in_window & F.col(DELETED_COL))
            .select("conv_id", "turn_idx", "ts", "lsn")
            .withColumn("op", F.lit("D"))
        )
        out.silver = lake_reconcile(
            spark, silver_tbl, silver_feed.unionByName(dead, allowMissingColumns=True),
            start, end, batch_key=f"silver:{batch_id}",
        )
        self._refresh_gold(spark, bronze_tbl, silver_tbl, batch_id, out)
        return out

    def register_views(self, spark: SparkSession, prefix: str = "vw_") -> list[str]:
        """S10: the consumption layer — one temp view per layer
        (the reference's thin Gold views,
        ``sql/02_SDI_SA360/03_GOLD/Views/vw_gold_sdi_sa360_campaign_daily_wide.sql``).
        Views read the current snapshot lazily; dashboards query these,
        never the files. The long views unpivot their wide mart."""
        layers = [
            "bronze", "silver", "gold_daily", "gold_weekly",
            "gold_daily_long", "gold_weekly_long", "qa_results",
        ]
        registered = []
        for layer in layers:
            table = _LONG_VIEWS[layer][0] if layer in _LONG_VIEWS else layer
            if LakeTable.exists(self._path(table)):
                self.read(spark, layer).createOrReplaceTempView(f"{prefix}{layer}")
                registered.append(f"{prefix}{layer}")
        if LakeTable.exists(self._path("qa_results")):
            # The reference's test DASHBOARD view — latest run per
            # (layer, test) with pass/fail rollup
            # (``sql/02_SDI_SA360/03_GOLD/tests/
            # 99_view_sa360_test_dashboard.sql``): a thin aggregation
            # over vw_qa_results, window-free (max_by on the apply seq).
            LakeTable.load(self._path("qa_results")).read(spark).groupBy(
                "test_layer", "test_name"
            ).agg(
                F.max_by(F.struct("run_id", "severity", "status", "is_critical_failure",
                                  "expected_value", "actual_value"), F.col("_order")).alias("_w"),
                F.count(F.lit(1)).alias("n_runs"),
                F.sum(F.when(F.col("status") == "PASS", 1).otherwise(0)).alias("n_pass"),
            ).select(
                "test_layer", "test_name", F.col("_w.*"), "n_runs", "n_pass",
                (F.col("n_pass") == F.col("n_runs")).alias("always_passed"),
            ).createOrReplaceTempView(f"{prefix}qa_dashboard")
            registered.append(f"{prefix}qa_dashboard")
        return registered

    # -- reads -------------------------------------------------------------

    def read(self, spark: SparkSession, layer: str, **read_kw) -> DataFrame:
        """Read a layer. ``read_kw`` passes through to
        :meth:`LakeTable.read` — e.g. ``stats_range={"day": (lo, hi)}``
        for file-skipped dashboard range reads on the day/qgp_week-keyed
        gold marts. ``gold_daily_long`` / ``gold_weekly_long`` are views:
        the unpivot of their wide mart's read, so the same ``read_kw``
        prune the wide mart's files (a directory an older lake persisted
        under a long name is never read)."""
        if layer in _LONG_VIEWS:
            wide, keys = _LONG_VIEWS[layer]
            return gold_long(self.read(spark, wide, **read_kw), keys)
        df = LakeTable.load(self._path(layer)).read(spark, **read_kw)
        return df.drop("_order") if "_order" in df.columns else df
