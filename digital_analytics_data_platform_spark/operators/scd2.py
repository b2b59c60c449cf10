"""Slowly-changing-dimension Type-2 history from the CDC change feed.

The reference's marts are all Type-1: ``MERGE`` latest-wins upserts
(e.g. ``sql/02_SDI_SA360/03_GOLD/MERGE/01_sp_merge_sdi_gold_sa360_
campaign_weekly_long.sql``), with point-in-time reads left to the
warehouse's time-travel. This module adds the standard companion a
CDC-fed lake needs as a first-class surface: an explicit Type-2
history — one row per key *version* with ``valid_from`` / ``valid_to``
/ ``is_current`` — derived from the same binlog-style event feed the
MERGE kernel ingests (``streaming/source.py:cdc_schema``).

Two surfaces:

- :func:`scd2_from_log` — pure DataFrame recompute of the full history
  from a change log. SQL-expressible (lead + row_number), so it is
  oracle-checked bit-for-bit against DuckDB in the driver gate
  (``queries.py:q_scd2_history``).
- :class:`Scd2Table` — the incremental engine path: an append-only
  (merge-on-read) versions table over :class:`LakeTable`. Applying a
  micro-batch is an O(batch) bucketed append; the chain columns are
  computed at read time per key. Because the stored rows are the raw
  immutable events themselves, *any* replay — duplicate batches,
  overlapping segments, out-of-order delivery — converges to the same
  history (read-time exact dedupe), independent of the exactly-once
  ledger that short-circuits the common case.

Scale shape (100 TB): the only per-key ordered computation is the
chain window, partitioned by the full key — state per window is one
conversation turn's version chain (bounded, small), and the window
runs after a bucket-pruned scan, so a dashboard asking for one
conversation's history touches one bucket. Writes never rewrite
existing files (MOR append), so apply cost is O(batch) regardless of
history size; :meth:`Scd2Table.compact` folds a bucket's event files
together (still raw events — compaction is layout, not semantics).
"""

from __future__ import annotations

import time
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..lake.merge import (
    _business_fields,
    _trim_ledger,
    align_to_fields,
    append_and_rebase,
    evolve_fields,
    garbage_predicate,
    rewrite_buckets,
)
from ..lake.table import DELETED_COL, LakeTable, bucket_of, retry_on_conflict, stored_schema

_SCD2_LEDGER_KEY = "scd2_ledger"


def scd2_from_log(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    *,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Recompute the full Type-2 history from a change log.

    Semantics (standard binlog → SCD2):

    - duplicate deliveries are identical rows (the feed is immutable
      events delivered at-least-once) and collapse via exact DISTINCT;
    - every surviving non-delete event opens a version at
      ``valid_from = order_cols[0]``;
    - a version closes at the NEXT event's ``valid_from`` for the same
      key — including a delete event, which closes its predecessor
      without opening a version (a re-insert later starts a new
      version, leaving the [delete, re-insert) gap unclaimed);
    - ``is_current`` marks the open version (``valid_to IS NULL``);
      a key whose last event is a delete has no current version;
    - ``version_num`` numbers surviving versions 1..n per key in
      ``order_cols`` order.

    The chain window partitions by the FULL key: per-window state is
    one key's version chain, so Zipf-hot conversations cost
    O(versions log versions) locally, never a global sort.
    """
    df = changes.distinct()
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    df = df.withColumn("valid_from", F.col(order_cols[0]))
    # lead() BEFORE dropping deletes: a delete bounds its predecessor.
    df = df.withColumn("valid_to", F.lead("valid_from").over(w))
    hist = df.filter(F.col(op_col) != delete_op) if op_col in df.columns else df
    w2 = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    return (
        hist.withColumn("version_num", F.row_number().over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(op_col)
    )


class Scd2Table:
    """Incremental SCD-2 history table: append-only raw-event storage
    (merge-on-read), chain columns computed at read time.

    Exactly-once: a ``batch_key`` seen in the scd2 ledger is skipped
    without a write (same contract as ``merge_changes``); a batch
    replayed PAST the ledger window is still harmless because the
    read path collapses identical events exactly — state convergence
    does not depend on the ledger, only fast-path skipping does.

    Schema evolution: new payload columns appearing mid-stream (the
    ``tool`` column case) are promoted into the table schema on the
    batch that introduces them; older files read the column as NULL.
    """

    def __init__(self, table: LakeTable, *, op_col: str = "op"):
        self.table = table
        self.op_col = op_col

    # -- lifecycle ---------------------------------------------------

    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        order_cols: list[str],
        *,
        n_buckets: int = 64,
        op_col: str = "op",
    ) -> "Scd2Table":
        if op_col not in schema.fieldNames():
            schema = T.StructType([T.StructField(op_col, T.StringType(), True)] + list(schema.fields))
        t = LakeTable.create(
            path, schema, key_cols, order_cols, n_buckets=n_buckets, props={"scd2": True}
        )
        return Scd2Table(t, op_col=op_col)

    @staticmethod
    def load(path: str, *, op_col: str = "op") -> "Scd2Table":
        return Scd2Table(LakeTable.load(path), op_col=op_col)

    # -- write -------------------------------------------------------

    def apply_batch(
        self,
        spark: SparkSession,
        changes: DataFrame,
        *,
        batch_key: str | None = None,
        write_salt: int = 1,
        quarantine: bool = True,
        max_ts=None,
        conflict_retries: int = 0,
    ) -> int:
        """See :meth:`_apply_batch_once`. ``conflict_retries`` adds the
        same optimistic-concurrency retry as a MOR ``merge_changes``: a
        lost commit CAS (concurrent writer on this table) first rebases
        the written files onto the new head, and re-runs the whole batch
        only when the bucket spec or column mapping changed — safe
        because the failed attempt never entered the ledger."""
        return retry_on_conflict(
            lambda: self._apply_batch_once(
                spark,
                changes,
                batch_key=batch_key,
                write_salt=write_salt,
                quarantine=quarantine,
                max_ts=max_ts,
                commit_rebase_retries=conflict_retries,
            ),
            conflict_retries,
        )

    def _apply_batch_once(
        self,
        spark: SparkSession,
        changes: DataFrame,
        *,
        batch_key: str | None = None,
        write_salt: int = 1,
        quarantine: bool = True,
        max_ts=None,
        commit_rebase_retries: int = 0,
    ) -> int:
        """Append one micro-batch of raw change events. O(batch): no
        existing file is read or rewritten. Returns the new snapshot
        version (or the current one on a ledger skip).

        The files commit through :func:`~..lake.merge.append_and_rebase`,
        shared with the MOR merge: a lost commit CAS recomputes only the
        ledger/schema against the new head and re-offers the SAME files."""
        t0 = time.monotonic()
        snap = self.table.snapshot()
        ledger: dict[str, Any] = dict(snap.props.get(_SCD2_LEDGER_KEY, {}))
        if batch_key is not None and batch_key in ledger:
            return snap.version

        key_cols, order_cols = snap.key_cols, snap.order_cols
        # schema evolution: new payload columns appended, shared columns
        # may widen (int→long, float→double), key-type changes refused —
        # same contract as merge_changes (lake/merge.py:evolve_fields)
        evolved_fields = evolve_fields(_business_fields(snap.schema()), changes.schema, key_cols, exclude=())
        staged = align_to_fields(changes, evolved_fields)
        # default from the INCOMING columns: align_to_fields has already
        # added the table's own op column as NULL, which would reject
        # every row as garbage
        if self.op_col not in changes.columns:
            staged = staged.withColumn(self.op_col, F.lit("U"))

        # same garbage definition as the MERGE kernel; rejects go to the
        # history table's own DLQ (never dropped silently — P3
        # discipline). One pass: garbage rows ride the same write into
        # the _bucket=-1 partition directory and those files are RENAMED
        # into the DLQ instead of committed (the kernel's MOR shape).
        bad = garbage_predicate(staged.schema, key_cols, order_cols, max_ts)
        staged = staged.select(
            *[f.name for f in evolved_fields],
            F.lit(False).alias(DELETED_COL),
            F.when(bad, F.lit(-1)).otherwise(bucket_of(key_cols[0], snap.n_buckets)).alias("_bucket"),
        )
        _, entries = self.table.write_data_files(staged, write_salt=write_salt)

        def commit_args(head) -> dict:
            fields = evolve_fields(
                _business_fields(head.schema()), T.StructType(evolved_fields), key_cols, exclude=()
            )
            return {
                "schema": stored_schema(fields),
                "props_update": {
                    _SCD2_LEDGER_KEY: _trim_ledger(
                        dict(head.props.get(_SCD2_LEDGER_KEY, {})), batch_key, 0, 0
                    ),
                    "delta_buckets": False,  # raw events; reads must NOT LWW-collapse
                },
                "lineage": [{"batch_key": batch_key, "wall_s": round(time.monotonic() - t0, 3)}],
            }

        version, _ = append_and_rebase(
            self.table, snap, entries, commit_args, batch_key=batch_key,
            ledger_key=_SCD2_LEDGER_KEY, quarantine=quarantine, retries=commit_rebase_retries,
        )
        return version

    # -- read --------------------------------------------------------

    def events(
        self, spark: SparkSession, *, buckets: Iterable[int] | None = None
    ) -> DataFrame:
        """Raw deduplicated change events (the stored log)."""
        df = self.table.read(
            spark, buckets=buckets, include_deleted=True, collapse=False
        ).drop(DELETED_COL)
        return df.distinct()

    def history(
        self, spark: SparkSession, *, buckets: Iterable[int] | None = None
    ) -> DataFrame:
        """Full Type-2 history (chain columns computed per key)."""
        snap = self.table.snapshot()
        return scd2_from_log(
            self.events(spark, buckets=buckets),
            snap.key_cols,
            snap.order_cols,
            op_col=self.op_col,
        )

    def current(
        self, spark: SparkSession, *, buckets: Iterable[int] | None = None
    ) -> DataFrame:
        """Open versions only — equals the Type-1 table state the MERGE
        kernel would hold after the same feed (tested equivalence:
        tests/test_scd2.py::test_current_matches_type1_merge)."""
        return (
            self.history(spark, buckets=buckets)
            .filter(F.col("is_current"))
            .drop("valid_to", "is_current")
        )

    def as_of(self, spark: SparkSession, ts) -> DataFrame:
        """Point-in-time read: the version valid at ``ts`` per key."""
        h = self.history(spark)
        return h.filter(
            (F.col("valid_from") <= F.lit(ts))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
        )

    # -- maintenance ---------------------------------------------------

    def compact(self, spark: SparkSession, *, write_salt: int = 1) -> int:
        """Fold each bucket's accumulated event files into one file per
        bucket (layout-only: rows are the deduped raw events; history
        semantics are unchanged — asserted by test_compact_preserves_history)."""
        snap = self.table.snapshot()
        rewrite_buckets(
            self.table,
            snap,
            self.events(spark).withColumn(DELETED_COL, F.lit(False)),
            range(snap.n_buckets),
            write_salt=write_salt,
            lineage=[{"compaction": True}],
        )
        return snap.version + 1
