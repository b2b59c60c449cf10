"""Medallion orchestration: one micro-batch drives Bronze → Silver →
Gold → QA, the Spark-first re-expression of the reference's scheduled
CALL chain (``orchestration/bigquery/Paid Search Dashboard
Orchestration/00_sdi_sa360_paid_search_sp_call.sql:1-17`` →
``sp_bronze_* → QA → sp_silver_* → QA → sp_gold_*`` per
``sql/02_SDI_SA360/…/Orchestration``).

Incremental contract (the reference's lookback-window discipline,
SURVEY.md §2.9): downstream layers recompute only the partitions the
Bronze batch touched —

- Silver is keyed like Bronze (``conv_id, turn_idx``); the batch's
  affected key-hash buckets are re-derived from Bronze state and
  MERGEd, so an update to one turn re-enriches only its bucket.
- Gold daily/weekly are keyed on (day/qgp_week, conv_id); the affected
  ``(conv_id)`` set scopes the re-aggregation: Gold rows for touched
  conversations are recomputed from Silver and MERGEd (the analog of
  "gold daily wide MERGE with 14d lookback" — scoping by touched keys
  instead of by wall-clock window, which is strictly tighter).

Every layer write goes through the same exactly-once MERGE kernel as
Bronze, so replaying a batch is a no-op at every layer.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.merge import MergeResult, merge_changes
from ..lake.table import LakeTable, bucket_of
from .quality import run_quality_checks
from .transcripts import build_silver, gold_daily_wide, gold_long, gold_weekly_wide


@dataclass
class MedallionResult:
    bronze: MergeResult
    silver: MergeResult | None = None
    gold_daily: MergeResult | None = None
    gold_weekly: MergeResult | None = None
    gold_daily_long: MergeResult | None = None
    gold_weekly_long: MergeResult | None = None
    qa: list = field(default_factory=list)
    full_audit: list | None = None
    maintenance: list | None = None


class MedallionPipeline:
    """Owns the four lake tables and applies CDC batches through them."""

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
        # table — this also bounds the read_changes changelog window and
        # time-travel horizon) and vacuum uncommitted-write orphans. The
        # pipeline writes ~3 manifests/batch across ~10 tables, so an
        # unexpired 10^10-event replay would accumulate O(100k) manifest
        # files each carrying a full file list; the cadence keeps the
        # metadata O(keep_snapshots). 0 disables (caller schedules
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

    def _ensure_keyidx(
        self, spark: SparkSession, layer: str, keys: list[str], gold_tbl: LakeTable
    ) -> LakeTable:
        """Secondary key index for a gold mart: the mart's live key
        tuples, re-bucketed by ``conv_id`` (first key col ⇒
        ``bucket_of("conv_id", n_buckets)``, the SAME bucket function
        and count as Bronze/Silver, so the batch's in-hand ``affected``
        bucket list prunes it directly). The mart itself stays bucketed
        by day/qgp_week for consumption-time pruning; the index is what
        makes the scoped-delete "which keys already exist for these
        conversations" lookup O(touched buckets) instead of an O(table
        files) keys-only skim per mart per batch — the last per-batch
        full-table read in the pipeline.

        Maintained with the SAME ledgered LWW merge as the mart (same
        change-set keys, same ``op`` tombstones, same ``_order``), so
        replay/crash recovery are idempotent by construction; the
        scheduled :meth:`run_full_audit` cross-checks index vs mart.

        Bootstrap: if the mart predates its index (upgrade path), the
        index is seeded from one full mart scan — a one-time migration
        cost, ledgered under ``<layer>_keyidx:seed``. The seed is
        re-attempted whenever the index exists with ZERO commits while
        the mart has data (version stays 0 only until the first merge),
        so a crash between ``LakeTable.create`` publishing the empty
        snapshot and the seed merge committing cannot leave an
        accepted-but-empty index; the ledgered seed key plus LWW make
        the retry idempotent.
        """
        path = self._path(layer + "_keyidx")
        idx_keys = ["conv_id"] + [k for k in keys if k != "conv_id"]
        if LakeTable.exists(path):
            idx_tbl = LakeTable.load(path)
        else:
            gold_schema = gold_tbl.snapshot().schema()
            idx_tbl = LakeTable.create(
                path,
                T.StructType(
                    [gold_schema[k] for k in idx_keys]
                    + [T.StructField("_order", T.LongType(), True)]
                ),
                idx_keys,
                ["_order"],
                n_buckets=self.n_buckets,
            )
        if idx_tbl.snapshot().version == 0 and gold_tbl.snapshot().files:
            seed = gold_tbl.read(spark).select(*idx_keys, "_order")
            merge_changes(spark, idx_tbl, seed, batch_key=f"{layer}_keyidx:seed", strategy="cow")
        return idx_tbl

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
            # batch. Fast path: if every downstream ledger already holds
            # this batch, the replay is FREE (the common at-least-once
            # redelivery case) — only a genuine crash recovery pays the
            # rebuild. Each downstream layer's own ledger key still makes
            # already-completed merges no-ops during that rebuild.
            if self._downstream_applied(batch_id):
                return out
            snap = bronze_tbl.snapshot()
            affected = sorted(
                r["_b"]
                for r in batch.filter(F.col("conv_id").isNotNull())
                .select(bucket_of("conv_id", snap.n_buckets).alias("_b"))
                .distinct()
                .collect()
            )
        else:
            affected = res_b.affected_buckets
        if not affected:
            return out
        self._rebuild_downstream(spark, bronze_tbl, affected, batch_id, out)
        if self.full_audit_every:
            self._batches_since_audit += 1
            if self._batches_since_audit >= self.full_audit_every:
                self._batches_since_audit = 0
                out.full_audit = self.run_full_audit(spark)
        if self.expire_snapshots_every:
            self._batches_since_expiry += 1
            if self._batches_since_expiry >= self.expire_snapshots_every:
                self._batches_since_expiry = 0
                out.maintenance = self.run_maintenance()
        return out

    def run_maintenance(self, *, keep_snapshots: int | None = None, grace_seconds: float = 3600.0) -> list:
        """Expire old snapshots and vacuum orphan files on every table
        the pipeline owns (marts, key indexes, bronze/silver). Driver-
        side manifest arithmetic only — no Spark jobs. Exactly-once
        ledgers live in each table's CURRENT snapshot props, so expiry
        never weakens replay idempotence; it only bounds how far back
        time travel / read_changes can reach."""
        keep = keep_snapshots or self.keep_snapshots
        stats = []
        for name in sorted(os.listdir(self.base_dir)):
            path = self._path(name)
            if not LakeTable.exists(path):
                continue
            tbl = LakeTable.load(path)
            s = {"table": name}
            s.update(tbl.expire_snapshots(keep_last=keep))
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
        for name in sorted(os.listdir(self.base_dir)):
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
        for name in sorted(os.listdir(self.base_dir)):
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
        """True iff every downstream layer's exactly-once ledger already
        records this batch (driver-side JSON reads — no Spark jobs).
        Conservative: a trimmed ledger entry or missing table reads as
        not-applied, which only costs an idempotent rebuild. The gold
        KEY INDEXES are checked too: each mart's index merges AFTER the
        mart itself, so a crash in that window would otherwise leave
        the fast path satisfied while the index is missing the batch's
        keys — desyncing every later scoped delete for them. (Per-batch
        QA rows are deliberately NOT gated on: they're observability,
        idempotently re-writable, and covered by the scheduled audit.)"""
        from ..lake.merge import _LEDGER_KEY

        marts = ("gold_daily", "gold_weekly", "gold_daily_long", "gold_weekly_long")
        for layer in ("silver",) + marts:
            if not LakeTable.exists(self._path(layer)):
                return False
            ledger = LakeTable.load(self._path(layer)).snapshot().props.get(_LEDGER_KEY, {})
            if f"{layer}:{batch_id}" not in ledger:
                return False
        for layer in marts:
            idx_path = self._path(layer + "_keyidx")
            if not LakeTable.exists(idx_path):
                return False
            ledger = LakeTable.load(idx_path).snapshot().props.get(_LEDGER_KEY, {})
            if f"{layer}_keyidx:{layer}:{batch_id}" not in ledger:
                return False
        return True

    def _rebuild_downstream(
        self, spark: SparkSession, bronze_tbl: LakeTable, affected: list[int],
        batch_id, out: MedallionResult,
    ) -> None:
        """Silver/Gold recompute scoped to the touched Bronze buckets —
        shared by the normal apply path and the reconcile backfill."""
        # ---- Silver: re-enrich only the touched Bronze buckets ----------
        from ..lake.table import DELETED_COL

        touched_all = bronze_tbl.read(spark, buckets=affected, include_deleted=True)
        touched = touched_all.filter(~F.col(DELETED_COL)).drop(DELETED_COL)
        silver_rows = build_silver(touched, self.conv_dim)
        # carry lsn as the LWW order (same total order as Bronze)
        silver_tbl = self._ensure(
            "silver", silver_rows, ["conv_id", "turn_idx"], ["ts", "lsn"]
        )
        res_s = merge_changes(
            spark, silver_tbl, silver_rows, batch_key=f"silver:{batch_id}", strategy=self.strategy
        )
        out.silver = res_s

        # Deletes don't appear in Bronze reads; propagate tombstones so a
        # turn deleted upstream disappears downstream too.
        self._propagate_deletes(spark, bronze_tbl, silver_tbl, affected, batch_id)
        self._rebuild_gold(spark, bronze_tbl, silver_tbl, touched_all, batch_id, out, affected=affected)

    def _rebuild_gold(
        self, spark: SparkSession, bronze_tbl: LakeTable, silver_tbl: LakeTable,
        touched_all: DataFrame, batch_id, out: MedallionResult,
        extra_conv_keys: DataFrame | None = None,
        affected: list[int] | None = None,
    ) -> None:
        # ---- Gold: recompute touched conversations from Silver ----------
        # `_order` is the apply sequence (Bronze snapshot version), NOT
        # max(lsn): a recompute after a delete can have a *lower* max
        # lsn, and LWW on lsn would then keep the stale row. The apply
        # sequence is monotone per batch, so later recomputes always win.
        apply_seq = bronze_tbl.snapshot().version
        # scope includes tombstoned conversations (a fully-deleted conv
        # must still drive gold scoped deletes), hence touched_all.
        # No broadcast hint: the touched set is O(batch keys) — unbounded
        # at 100M-event batches. AQE picks broadcast when it's actually
        # small.
        conv_keys = touched_all.select("conv_id").distinct()
        if extra_conv_keys is not None:
            # reconcile passes the PRE-replace window conversations here:
            # a conversation the correction removed entirely no longer
            # appears in any post-replace bronze read, but its gold rows
            # must still be scope-deleted
            conv_keys = conv_keys.unionByName(extra_conv_keys).distinct()
        # Bucket-pruned Silver read: Silver is bucketed by
        # xxhash64(conv_id) with the SAME bucket count as Bronze
        # (_ensure passes self.n_buckets), and a conversation's bucket is
        # a function of conv_id alone — so every row of every touched
        # conversation lives inside the `affected` bucket list already in
        # hand. Reading only those files makes the gold rebuild
        # O(touched buckets) instead of O(table) per batch — at 100×
        # scale the full-silver scan here was the pipeline's dominant
        # fixed cost. The semi-join still scopes to exactly the touched
        # conversations (a bucket holds other conversations too).
        same_layout = (
            affected is not None
            and silver_tbl.snapshot().n_buckets == bronze_tbl.snapshot().n_buckets
        )
        silver_scoped = (
            silver_tbl.read(spark, buckets=affected) if same_layout else silver_tbl.read(spark)
        )
        silver_state = silver_scoped.join(conv_keys, "conv_id", "left_semi")
        # `affected` was derived with Bronze's bucket function; it prunes
        # a conv-bucketed key index only if the index has the SAME bucket
        # count (checked per-index in _merge_gold_with_index).
        bronze_n = bronze_tbl.snapshot().n_buckets
        idx_affected = (affected, bronze_n) if affected is not None else None
        # The daily frame feeds FOUR mart lineages (daily, weekly, both
        # longs) plus QA; without a persist each one re-runs the silver
        # scan + gold aggregation — ~6 redundant executions of the
        # batch's most expensive lineage. Both frames are O(touched).
        daily = gold_daily_wide(silver_state).withColumn(
            "_order", F.lit(apply_seq).cast("long")
        ).persist()
        weekly = None
        try:
            gold_d_tbl = self._ensure("gold_daily", daily, ["day", "conv_id"], ["_order"])
            out.gold_daily = self._merge_gold_with_index(
                spark, "gold_daily", gold_d_tbl, daily, ["day", "conv_id"],
                conv_keys, apply_seq, f"gold_daily:{batch_id}", idx_affected,
            )
            weekly = gold_weekly_wide(daily.drop("_order")).withColumn(
                "_order", F.lit(apply_seq).cast("long")
            ).persist()
            gold_w_tbl = self._ensure("gold_weekly", weekly, ["qgp_week", "conv_id"], ["_order"])
            out.gold_weekly = self._merge_gold_with_index(
                spark, "gold_weekly", gold_w_tbl, weekly, ["qgp_week", "conv_id"],
                conv_keys, apply_seq, f"gold_weekly:{batch_id}", idx_affected,
            )

            # ---- Gold long shapes: same MERGE discipline, key extended with
            # metric_name (the reference ships every mart daily/weekly ×
            # wide/long, ``sql/02_SDI_SA360/README.md:27-32``; long-mart MERGE
            # keys per ``…daily_long.sql:70-73``).
            daily_long = gold_long(daily.drop("_order"), ["day", "conv_id"]).withColumn(
                "_order", F.lit(apply_seq).cast("long")
            )
            out.gold_daily_long = self._merge_long(
                spark, "gold_daily_long", daily_long, ["day", "conv_id"],
                conv_keys, apply_seq, f"gold_daily_long:{batch_id}", idx_affected,
            )
            weekly_long = gold_long(weekly.drop("_order"), ["qgp_week", "conv_id"]).withColumn(
                "_order", F.lit(apply_seq).cast("long")
            )
            out.gold_weekly_long = self._merge_long(
                spark, "gold_weekly_long", weekly_long, ["qgp_week", "conv_id"],
                conv_keys, apply_seq, f"gold_weekly_long:{batch_id}", idx_affected,
            )

            if self.run_qa:
                # Per-batch QA reads O(touched) data, not O(table): bronze and
                # silver prune to the touched buckets, the gold marts scope to
                # the touched conversations. Every cross-layer reconciliation
                # (silver_rows_eq_bronze, weekly_eq_sum_daily, long_eq_wide)
                # compares BOTH sides under the same scope, so the invariants
                # hold batch-locally. The unscoped audit still exists — as a
                # scheduled job via :meth:`run_full_audit`, which is the
                # reference's shape too (QA runs per scheduled orchestration,
                # not per chunk: ``orchestration/bigquery/…/
                # 00_sdi_sa360_paid_search_sp_call.sql:1-17``).
                qa_bronze = (
                    bronze_tbl.read(spark, buckets=affected) if affected is not None
                    else bronze_tbl.read(spark)
                )
                qa_silver = silver_scoped
                # Gold-side checks run on the recomputed frames already in
                # hand (≡ the marts' post-merge state for the touched
                # conversations) — zero gold table reads per batch; the
                # persisted state is audited by run_full_audit on schedule.
                out.qa = run_quality_checks(
                    qa_bronze.join(conv_keys, "conv_id", "left_semi"),
                    qa_silver.join(conv_keys, "conv_id", "left_semi"),
                    daily.drop("_order"),
                    weekly.drop("_order"),
                    gold_daily_long=daily_long.drop("_order"),
                    out_dir=os.path.join(self.base_dir, "qa"),
                    # the gold frames here are the batch RECOMPUTE
                    # (weekly/long derive from the in-hand daily frame),
                    # so label the rows honestly: they validate the
                    # recompute's internal consistency; the PERSISTED
                    # marts are audited by the scheduled run_full_audit
                    gold_layer="gold_recompute",
                )
                self._persist_qa(spark, out.qa, f"batch:{batch_id}", apply_seq)
        finally:
            daily.unpersist()
            if weekly is not None:
                weekly.unpersist()

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
            out_dir=os.path.join(self.base_dir, "qa"),
        )
        results.extend(self._audit_key_indexes(spark))
        self._persist_qa(spark, results, f"full_audit:v{bronze_tbl.snapshot().version}",
                         bronze_tbl.snapshot().version)
        return results

    def _audit_key_indexes(self, spark: SparkSession) -> list:
        """Scheduled cross-check that each gold mart's conv-bucketed key
        index (:meth:`_ensure_keyidx`) holds exactly the mart's live key
        set — the index carries the per-batch scoped-delete lookups, so
        drift here would mean missed or spurious gold tombstones. One
        full scan of each side, symmetric-difference count must be 0."""
        from .quality import _row

        out = []
        for layer, keys in [
            ("gold_daily", ["day", "conv_id"]),
            ("gold_weekly", ["qgp_week", "conv_id"]),
            ("gold_daily_long", ["day", "conv_id", "metric_name"]),
            ("gold_weekly_long", ["qgp_week", "conv_id", "metric_name"]),
        ]:
            idx_path = self._path(layer + "_keyidx")
            if not (LakeTable.exists(self._path(layer)) and LakeTable.exists(idx_path)):
                continue
            mart = LakeTable.load(self._path(layer)).read(spark).select(*keys)
            idx = LakeTable.load(idx_path).read(spark).select(*keys)
            drift = mart.exceptAll(idx).count() + idx.exceptAll(mart).count()
            out.append(_row(layer, "keyidx_matches_mart", "HIGH", 0, drift, drift == 0))
        return out

    def _persist_qa(self, spark: SparkSession, results: list, run_id: str, apply_seq: int) -> None:
        """QA rows land in a LakeTable (not loose JSON): the reference
        makes test results a first-class queryable product with dashboard
        views over it (``sql/02_SDI_SA360/01_BRONZE/tests/
        00_create_sdi_bronze_sa360_test_results.sql:18-45``,
        ``…03_GOLD/tests/99_view_sa360_test_dashboard.sql``).
        Key = (run_id, layer, test) so a replayed batch overwrites its
        own rows idempotently; ``register_views`` exposes
        ``vw_qa_results``."""
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
        merge_changes(spark, tbl, df, batch_key=f"qa:{run_id}", strategy="cow")

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
        LWW merge must not arbitrate them — then Gold rebuilds via the
        normal monotone apply-sequence recompute for exactly the touched
        buckets.

        ``batch_key`` defaults to the window, which makes a *replay of
        the same correction* a no-op; a SECOND, different correction for
        the same window must pass its own key (e.g. a feed revision id)
        or it would be silently ledger-skipped.
        """
        from ..lake.merge import reconcile_backfill as lake_reconcile, window_file_buckets
        from ..lake.table import DELETED_COL

        bronze_tbl = LakeTable.load(self._path("bronze"))
        batch_id = batch_key or f"reconcile:{start}:{end}"
        in_window = (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
        # PRE-replace window conversations, captured against the current
        # snapshot's (immutable) file list BEFORE the replace commits:
        # conversations the correction removes entirely vanish from every
        # post-replace read, yet their gold rows must be scope-deleted.
        pre_convs = (
            bronze_tbl.read(spark, include_deleted=True)
            .filter(in_window)
            .select("conv_id")
            .distinct()
        )
        pre_convs.persist()
        pre_convs.count()  # materialize against the pre-replace snapshot
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
            pre_convs.unpersist()
            return out

        # Silver window-replace: feed = enriched bronze window rows plus
        # tombstones for keys the correction deleted (their D winners
        # survive in bronze as in-window tombstones).
        touched_all = bronze_tbl.read(spark, buckets=affected, include_deleted=True)
        live = touched_all.filter(in_window & ~F.col(DELETED_COL)).drop(DELETED_COL)
        silver_feed = build_silver(live, self.conv_dim).withColumn("op", F.lit("U"))
        dead = (
            touched_all.filter(in_window & F.col(DELETED_COL))
            .select("conv_id", "turn_idx", "ts", "lsn")
            .withColumn("op", F.lit("D"))
        )
        silver_tbl = self._ensure("silver", silver_feed.drop("op"), ["conv_id", "turn_idx"], ["ts", "lsn"])
        for c in silver_feed.columns:
            if c not in dead.columns:
                dead = dead.withColumn(c, F.lit(None).cast(silver_feed.schema[c].dataType))
        out.silver = lake_reconcile(
            spark, silver_tbl, silver_feed.unionByName(dead.select(*silver_feed.columns)),
            start, end, batch_key=f"silver:{batch_id}",
        )
        self._rebuild_gold(
            spark, bronze_tbl, silver_tbl, touched_all, batch_id, out,
            extra_conv_keys=pre_convs, affected=affected,
        )
        pre_convs.unpersist()
        return out

    def register_views(self, spark: SparkSession, prefix: str = "vw_") -> list[str]:
        """S10: the consumption layer — one temp view per persisted mart
        (the reference's thin Gold views,
        ``sql/02_SDI_SA360/03_GOLD/Views/vw_gold_sdi_sa360_campaign_daily_wide.sql``).
        Views read the current snapshot lazily; dashboards query these,
        never the files."""
        layers = [
            "bronze", "silver", "gold_daily", "gold_weekly",
            "gold_daily_long", "gold_weekly_long", "qa_results",
        ]
        registered = []
        for layer in layers:
            if LakeTable.exists(self._path(layer)):
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

    def _merge_long(
        self, spark, layer: str, long: DataFrame, ids: list[str], conv_keys: DataFrame,
        apply_seq: int, batch_key: str, idx_affected: tuple | None,
    ) -> MergeResult:
        tbl = self._ensure(layer, long, ids + ["metric_name"], ["_order"])
        return self._merge_gold_with_index(
            spark, layer, tbl, long, ids + ["metric_name"],
            conv_keys, apply_seq, batch_key, idx_affected,
        )

    def _merge_gold_with_index(
        self, spark, layer: str, gold_tbl: LakeTable, recomputed: DataFrame,
        keys: list[str], conv_keys: DataFrame, apply_seq: int, batch_key: str,
        idx_affected: tuple | None,
    ) -> MergeResult:
        """One gold-mart MERGE plus its key-index upkeep, in the crash-
        safe order: read the index (pre-batch state) → derive scoped
        tombstones → merge the mart → merge the SAME change-set's keys
        into the index. A crash between the two merges replays cleanly:
        the index still holds the pre-batch keys, so the recomputed
        change-set is identical, the mart merge ledger-skips, and the
        index merge proceeds; a crash after both ledger-skips both."""
        idx_tbl = self._ensure_keyidx(spark, layer, keys, gold_tbl)
        prune = None
        if idx_affected is not None:
            buckets, bronze_n = idx_affected
            if idx_tbl.snapshot().n_buckets == bronze_n:
                prune = buckets
        full = self._with_scoped_deletes(
            spark, idx_tbl, recomputed, keys, conv_keys, apply_seq, prune
        )
        # Both merges consume the same O(touched) change-set; cache it so
        # the recompute lineage (silver read → gold agg) runs once, and
        # so the index merge can't see a post-merge index snapshot (the
        # read inside `full` is pinned to the pre-batch file list anyway,
        # but the cache makes that airtight AND cheap). In the common
        # no-tombstone case _with_scoped_deletes returns `recomputed`
        # ITSELF — which the caller may already hold persisted (the
        # daily/weekly frames) — so only persist/unpersist a frame this
        # function created, never the caller's.
        own_cache = full is not recomputed
        if own_cache:
            full = full.persist()
        try:
            res = merge_changes(spark, gold_tbl, full, batch_key=batch_key, strategy="cow")
            idx_cols = keys + ["_order"] + (["op"] if "op" in full.columns else [])
            merge_changes(
                spark, idx_tbl, full.select(*idx_cols),
                batch_key=f"{layer}_keyidx:{batch_key}", strategy="cow",
            )
        finally:
            if own_cache:
                full.unpersist()
        return res

    def _with_scoped_deletes(
        self, spark, idx_tbl: LakeTable, recomputed: DataFrame, keys: list[str],
        conv_keys: DataFrame, apply_seq: int, affected: list[int] | None = None,
    ) -> DataFrame:
        """The reference's scoped ``WHEN NOT MATCHED BY SOURCE …
        DELETE`` (``sql/05_SDI_PROFOUND/…/01_sp_reconcile_…:176-178``):
        gold rows of touched conversations that vanished from the
        recompute (all their turns deleted) become tombstones.

        Scale note — the "which keys already exist" lookup reads the
        mart's conv-bucketed KEY INDEX (:meth:`_ensure_keyidx`), pruned
        to the batch's affected buckets, not the mart itself: gold
        buckets by its first key (day / qgp_week), and pruning the mart
        to the batch's touched *days* would be WRONG — a delete event's
        ``ts`` can differ from the previously-live version's ``ts`` (ts
        is payload, LWW keeps the delete's values), so the day whose
        gold row must be tombstoned may appear in no surviving bronze
        row. A conversation's index bucket, by contrast, is a function
        of ``conv_id`` alone, so the affected list covers every
        existing key of every touched conversation. This makes the
        existing-keys read O(touched buckets) per mart per batch; the
        pre-index keys-only mart skim was the pipeline's last per-batch
        O(table-files) read (bucket pruning asserted in
        tests/test_pipeline.py, column pruning in
        tests/test_plan_properties.py)."""
        existing = (
            idx_tbl.read(spark, buckets=affected)
            .join(conv_keys, "conv_id", "left_semi")
            .select(*keys)
        )
        gone = existing.join(recomputed.select(*keys), keys, "left_anti")
        if gone.isEmpty():
            return recomputed
        tomb = gone.withColumn("op", F.lit("D")).withColumn(
            "_order", F.lit(apply_seq).cast("long")
        )
        for c in recomputed.columns:
            if c not in tomb.columns:
                tomb = tomb.withColumn(c, F.lit(None).cast(recomputed.schema[c].dataType))
        return recomputed.withColumn("op", F.lit("U")).unionByName(tomb)

    def _propagate_deletes(self, spark, bronze_tbl, silver_tbl, affected, batch_id) -> None:
        """Keys tombstoned in Bronze's touched buckets get tombstoned in
        Silver with the same (ts, lsn) order — LWW keeps it idempotent."""
        from ..lake.table import DELETED_COL

        dead = (
            bronze_tbl.read(spark, buckets=affected, include_deleted=True)
            .filter(F.col(DELETED_COL))
            .select("conv_id", "turn_idx", "ts", "lsn")
        )
        if dead.isEmpty():
            return
        silver_schema = silver_tbl.snapshot().schema()
        tomb = dead.withColumn("op", F.lit("D"))
        for f_ in silver_schema.fields:
            if f_.name not in tomb.columns and f_.name != DELETED_COL:
                tomb = tomb.withColumn(f_.name, F.lit(None).cast(f_.dataType))
        merge_changes(
            spark, silver_tbl, tomb, batch_key=f"silver_tomb:{batch_id}", strategy=self.strategy
        )

    # -- reads -------------------------------------------------------------

    def read(self, spark: SparkSession, layer: str, **read_kw) -> DataFrame:
        """Read a layer. ``read_kw`` passes through to
        :meth:`LakeTable.read` — e.g. ``stats_range={"day": (lo, hi)}``
        for file-skipped dashboard range reads on the day/qgp_week-keyed
        gold marts."""
        df = LakeTable.load(self._path(layer)).read(spark, **read_kw)
        return df.drop("_order") if "_order" in df.columns else df
