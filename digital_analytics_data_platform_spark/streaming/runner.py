"""foreachBatch apply runner: stream → MERGE → metrics/lineage sinks.

Exactly-once story (the reference's transaction + manifest discipline,
``sql/07_…/01_sp_merge_…:26,91`` + ``01_Notebook_v8.ipynb`` manifest):

- the file-stream checkpoint records which log segments each batchId
  covers → resumable reads;
- ``merge_changes`` commits atomically and records
  ``(pipeline_id:batchId, bit_xor key-hash fingerprint)`` in the table
  ledger → a batch replayed after a crash between table-commit and
  checkpoint-commit is a no-op;
- batch metrics (the reference's ``*_test_results`` analog, one row per
  batch) and per-bucket lineage rows are appended to parquet sinks
  *after* the table commit, keyed by batchId so replays overwrite
  nothing semantically.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession

from ..lake.merge import compact, merge_changes, retention_truncate
from ..lake.table import LakeTable, empty_frame


@dataclass
class StreamMetrics:
    batches: int = 0
    events: int = 0
    quarantined: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    # MOR-mode batch winners (inserts *and* updates of existing keys are
    # indistinguishable without reading the table); kept separate from
    # `inserts` so cow-vs-mor telemetry stays comparable.
    upserts: int = 0
    skipped_batches: int = 0
    wall_s: float = 0.0
    # scheduled-maintenance telemetry (expire_every cadence)
    expired_snapshots: int = 0
    gc_deleted_files: int = 0
    gc_freed_bytes: int = 0
    # need-based compactions triggered by compact_tail_files_over
    adaptive_compactions: int = 0
    # rolling-TTL sweeps (retention_every cadence)
    retention_rows_dropped: int = 0
    retention_files_dropped: int = 0

    @property
    def events_per_sec(self) -> float:
        return self.events / self.wall_s if self.wall_s else 0.0


def apply_stream(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    *,
    pipeline_id: str = "bronze",
    available_now: bool = True,
    processing_time: str | None = None,
    write_salt: int = 1,
    metrics_dir: str | None = None,
    await_termination: bool = True,
    strategy: str = "cow",
    compact_every: int = 0,
    compact_cluster_by: list[str] | None = None,
    compact_cluster_mode: str = "range",
    compact_tail_files_over: int = 0,
    expire_every: int = 0,
    expire_keep_last: int = 10,
    expire_protect: "list | None" = None,
    retention_every: int = 0,
    retention_age_seconds: float | None = None,
    history_path: str | None = None,
    conflict_retries: int = 3,
    rollups: list | None = None,
    rollup_sync_every: int = 1,
):
    """Run the CDC apply as a streaming query. Returns
    ``(query, StreamMetrics)`` — metrics are populated only after the
    query terminates (use ``available_now`` for replay jobs).

    ``history_path``: optional dual sink — each micro-batch ALSO
    appends to an :class:`~..operators.scd2.Scd2Table` at that path
    (created on first use from the stream's business schema), so one
    pass over the feed maintains the Type-1 current state AND the
    Type-2 version history. Each sink keeps its own ledger under the
    same ``pipeline_id:batchId`` key: a crash between the two commits
    replays the batch and each sink independently skips or applies —
    the pair converges without cross-sink coordination.

    ``compact_cluster_by``: columns to cluster on during the periodic
    compact (``compact_cluster_mode="zorder"`` interleaves them — see
    ``lake.zorder``); i.e. columns to range-cluster on during the
    periodic ``compact_every`` rewrite (see
    :func:`~..lake.merge.compact`) — a live tail that also serves
    dashboard window reads keeps its file-level ``ts`` stats tight
    without a separate maintenance job.

    ``compact_tail_files_over``: need-based compaction trigger (the
    Paimon/Hudi num-delta-commits shape), complementing the fixed
    ``compact_every`` cadence: after each applied batch, any bucket
    whose MOR delta tail has reached N delta commits is folded —
    ONLY those buckets, so a Zipf-hot conversation's bucket compacts
    often while the cold 90% of a 100 TB table is never rewritten, and
    per-bucket read amplification is bounded by N regardless of how
    skewed the feed is. Driver-side check on the snapshot's
    ``delta_buckets`` bookkeeping — no Spark job unless a bucket
    actually crossed the threshold.

    ``retention_every`` + ``retention_age_seconds``: every N applied
    batches, run :func:`~..lake.merge.retention_truncate` with cutoff =
    (newest ``ts`` stat across the table's files) −
    ``retention_age_seconds`` — the rolling TTL a transcript lake
    enforces. Metadata-first: on a ts-clustered table almost every
    expired file leaves the manifest unread; physical reclaim follows
    via the ``expire_every`` cadence.

    ``expire_every``: every N applied batches, run snapshot expiry +
    physical GC on every table this stream maintains (the main table,
    the SCD2 history, each rollup's marts) so a long-lived stream's
    metadata and replaced-file footprint stay bounded — without it,
    one manifest per commit accumulates forever (each O(live files)).
    The main table's expiry automatically protects every snapshot any
    registered rollup's NEXT sync still needs
    (``protect_versions_since = min(rollup source cursors)``) — the
    Iceberg expire-breaks-CDC-consumers hazard handled by construction;
    composed rollups guard their internal changelog consumers the same
    way (``DistinctCountRollup.expire``). Tagged snapshots (e.g. WAP's
    ``published``) always survive. External consumers the runner cannot
    discover on its own (a CDC relay tailing this table, a second
    pipeline's reconcile) register through ``expire_protect``: a list
    of zero-arg callables each returning the oldest main-table version
    that consumer still needs (e.g.
    ``lambda: relay_cursor(relay_out_dir)``); the floors are
    re-evaluated at every expiry tick and joined with the rollups'
    cursors, so a lagging consumer's window is retained no matter how
    aggressive ``expire_keep_last`` is.

    ``conflict_retries``: optimistic-concurrency budget passed through to
    :func:`merge_changes` / :func:`compact` — a concurrent writer on the
    same table (scheduled compactor, reconcile backfill, second pipeline)
    costs a re-run of the losing micro-batch, never a crashed query.

    ``rollups``: optional list of :class:`~..plans.ivm.IncrementalRollup`
    / :class:`~..plans.ivm.DistinctCountRollup` (anything with
    ``sync(spark, table)`` + ``tables``)
    synced every ``rollup_sync_every`` applied batches — downstream
    grouped marts stay exactly equal to a recompute (retract-stream
    semantics over the image changelog) in the same streaming pass, at
    O(changed groups) per sync. Each rollup's cursor rides its own
    atomic mart commit, so a crash between the apply and a sync just
    means the next sync covers a wider window — never drift."""
    if retention_every and rollups:
        # retention removals are NOT changelog-visible (a removal-only
        # commit adds no files), so an IVM mart syncing past a sweep
        # would keep contributions its source no longer holds — refuse
        # loudly rather than silently break the mart≡recompute invariant
        raise ValueError(
            "retention_every cannot be combined with rollups: retention sweeps are "
            "not changelog-visible and would silently drift the IVM marts; enforce "
            "retention on the marts' own serving queries instead"
        )
    table = LakeTable.load(table_path)
    scd2 = None
    if history_path is not None:
        from ..operators.scd2 import Scd2Table

        if LakeTable.exists(history_path):
            scd2 = Scd2Table.load(history_path)
        else:
            snap = table.snapshot()
            import pyspark.sql.types as T

            from ..lake.table import DELETED_COL

            business = T.StructType([f for f in snap.schema().fields if f.name != DELETED_COL])
            scd2 = Scd2Table.create(
                history_path, business, snap.key_cols, snap.order_cols, n_buckets=snap.n_buckets
            )
    metrics = StreamMetrics()
    metrics_path = metrics_dir or os.path.join(table_path, "metrics")
    os.makedirs(metrics_path, exist_ok=True)
    t_start = time.monotonic()

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        res = merge_changes(
            spark,
            table,
            batch_df,
            batch_key=f"{pipeline_id}:{batch_id}",
            write_salt=write_salt,
            strategy=strategy,
            conflict_retries=conflict_retries,
        )
        metrics.batches += 1
        if res.skipped:
            metrics.skipped_batches += 1
        else:
            metrics.events += res.events_in
            metrics.quarantined += res.quarantined
            metrics.inserts += res.inserts
            metrics.upserts += res.upserts
            metrics.updates += res.updates
            metrics.deletes += res.deletes
        if scd2 is not None:
            scd2.apply_batch(
                spark,
                batch_df,
                batch_key=f"{pipeline_id}:{batch_id}",
                write_salt=write_salt,
                conflict_retries=conflict_retries,
            )
        if compact_every and not res.skipped and metrics.batches % compact_every == 0:
            compact(
                spark,
                table,
                write_salt=write_salt,
                cluster_by=compact_cluster_by,
                cluster_mode=compact_cluster_mode,
                conflict_retries=conflict_retries,
            )
            # fold the rollup marts' MOR versions on the same cadence —
            # sync() appends O(changed groups) per batch, so without
            # this a long tail re-couples mart READ cost to churn
            for roll in rollups or []:
                for mart in roll.tables:
                    compact(spark, mart, write_salt=write_salt, conflict_retries=conflict_retries)
        if compact_tail_files_over and not res.skipped:
            tail = table.snapshot().props.get("delta_buckets", {})
            hot = [int(b) for b, n in tail.items() if int(n) >= compact_tail_files_over]
            if hot:
                compact(
                    spark,
                    table,
                    write_salt=write_salt,
                    cluster_by=compact_cluster_by,
                    cluster_mode=compact_cluster_mode,
                    conflict_retries=conflict_retries,
                    buckets=hot,
                )
                metrics.adaptive_compactions += 1
        if rollups and not res.skipped and metrics.batches % max(rollup_sync_every, 1) == 0:
            for roll in rollups:
                roll.sync(spark, table)
        if retention_every and not res.skipped and metrics.batches % retention_every == 0:
            snap = table.snapshot()
            tcol = snap.order_cols[0]
            # rolling cutoff = newest ts stat − age (event time, not wall
            # clock — a paused/replayed stream never over-trims)
            newest = max(
                (f[f"max_{tcol}"] for f in snap.files if f.get(f"max_{tcol}") is not None),
                default=None,
            )
            if newest is not None:
                import datetime as _dt

                cutoff = _dt.datetime.fromisoformat(newest) - _dt.timedelta(
                    seconds=retention_age_seconds or 0
                )
                r_ret = retention_truncate(
                    spark, table, cutoff, write_salt=write_salt, conflict_retries=conflict_retries
                )
                metrics.retention_rows_dropped += r_ret["rows_dropped"]
                metrics.retention_files_dropped += r_ret["files_dropped"]
        if expire_every and not res.skipped and metrics.batches % expire_every == 0:
            # retention floor: the oldest source snapshot any rollup's
            # next sync reads its changelog from (fresh — syncs above
            # just ran); None (no rollups) means keep_last alone rules
            floors = [r.source_cursor() for r in rollups or [] if hasattr(r, "source_cursor")]
            floors += [int(fn()) for fn in expire_protect or []]
            r_exp = table.expire_snapshots(
                keep_last=expire_keep_last,
                protect_versions_since=min(floors) if floors else None,
            )
            for roll in rollups or []:
                if hasattr(roll, "expire"):
                    sub = roll.expire(keep_last=expire_keep_last)
                    for k in ("expired_snapshots", "deleted_files", "freed_bytes"):
                        r_exp[k] += sub[k]
            if scd2 is not None:
                sub = scd2.table.expire_snapshots(keep_last=expire_keep_last)
                for k in ("expired_snapshots", "deleted_files", "freed_bytes"):
                    r_exp[k] += sub[k]
            metrics.expired_snapshots += r_exp["expired_snapshots"]
            metrics.gc_deleted_files += r_exp["deleted_files"]
            metrics.gc_freed_bytes += r_exp["freed_bytes"]
        rec = {"pipeline_id": pipeline_id, "batch_id": batch_id, **asdict(res)}
        with open(os.path.join(metrics_path, f"{pipeline_id}_batch_{batch_id:09d}.json"), "w") as f:
            json.dump(rec, f)

    writer = source.writeStream.foreachBatch(apply_batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    query = writer.start()
    if await_termination:
        query.awaitTermination()
        metrics.wall_s = time.monotonic() - t_start
    return query, metrics


def metrics_df(spark: SparkSession, table_path: str, pipeline_id: str | None = "bronze") -> DataFrame:
    """The per-batch metrics sink as a queryable DataFrame (the "metrics
    tables" half of the north rule's lineage/metrics contract; the
    per-partition half is :meth:`LakeTable.lineage_df`). One row per
    applied micro-batch: batch id, event/insert/update/delete/quarantine
    counts, affected buckets, commit version, wall seconds, strategy.
    ``pipeline_id=None`` reads every pipeline writing to this table's
    metrics dir.

    A *distributed* ``spark.read.json`` over the metrics directory with
    an explicit schema — at a 10^10-event replay the metrics sink is
    millions of small records, which a driver-side listdir loop would
    not hold."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("pipeline_id", T.StringType()),
            T.StructField("batch_id", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("events_in", T.LongType()),
            T.StructField("quarantined", T.LongType()),
            T.StructField("inserts", T.LongType()),
            T.StructField("updates", T.LongType()),
            T.StructField("deletes", T.LongType()),
            T.StructField("upserts", T.LongType()),
            T.StructField("keys_written", T.LongType()),
            T.StructField("affected_buckets", T.ArrayType(T.LongType())),
            T.StructField("skipped", T.BooleanType()),
            T.StructField("strategy", T.StringType()),
            T.StructField("wall_s", T.DoubleType()),
        ]
    )
    mdir = os.path.join(table_path, "metrics")
    if not os.path.isdir(mdir) or not os.listdir(mdir):
        return empty_frame(spark, schema)
    df = spark.read.schema(schema).json(mdir)
    if pipeline_id is not None:
        df = df.filter(F.col("pipeline_id") == pipeline_id)
    return df
