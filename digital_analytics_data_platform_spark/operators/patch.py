"""Partial-update (patch) merge: CDC updates that carry only changed
columns, merged column-wise latest-non-null.

The reference's feeds always ship full rows, but its gold marts
repeatedly express the *column-wise latest non-null* idiom in SQL —
``ARRAY_AGG(col IGNORE NULLS ORDER BY file_load_datetime DESC LIMIT
1)`` per metric column (the A6 pattern,
``sql/02_SDI_SA360/03_GOLD/MERGE/01_sp_merge_sdi_gold_sa360_campaign_
weekly.sql`` and the ``a6_latest_non_null`` registry entry). This
module promotes that idiom from a query to a TABLE semantics — the
Paimon ``merge-engine=partial-update`` / Hudi payload-combine shape: a
change event may set any subset of payload columns; unset columns
(NULL) leave the stored value alone; a delete clears the row.

Semantics (defined by replaying the log per key, in ``order_col``
order):

- each non-delete event *sets* exactly its non-null payload columns;
- a column's visible value is the latest set, **unless** a delete with
  a later order supersedes it (delete = set every column null);
- a key is *live* iff some non-delete event follows the last delete
  (a patch after a delete re-creates the row with only its columns).

Exactness under ANY batching/ordering: the stored state keeps, per
payload column, the pair ``(value, order-of-the-event-that-set-it)``
plus the latest delete/upsert orders. Combining two states is
column-wise ``max_by(value, order)`` + ``max(order)`` — a commutative,
associative, idempotent monoid — so batch pre-collapse, read-time
merge, compaction, and replayed/duplicated/out-of-order batches all
converge to the log-replay answer (property-tested against a DuckDB
oracle in ``tests/test_patch.py``). This is what plain LWW storage
cannot do for sparse updates: after a full-row collapse the per-column
provenance is gone, and a late patch between two originals would
resolve wrong. (Paimon documents the same limitation for its
``sequence.field``; we pay one extra stored order column per payload
column to be exact.)

Scale shape (100 TB): apply is O(batch) — one map-side-combinable hash
agg on the key (Zipf-hot keys collapse before the shuffle) and one
bucketed append; no existing file is read or rewritten. Reads combine
per key after a bucket-pruned scan; ``compact`` folds a table's delta
files with the same agg. Everything is built-in-expression JVM work —
no Python in the plan.
"""

from __future__ import annotations

import os
import time
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.merge import _trim_ledger, align_to_fields, evolve_fields, garbage_predicate, rewrite_buckets
from ..lake.table import DELETED_COL, LakeTable, bucket_of, retry_on_conflict, stored_schema

_PATCH_LEDGER_KEY = "patch_ledger"
# state-encoding column names
_DEL_O = "_del_o"  # latest delete order (null = never deleted)
_LIVE_O = "_live_o"  # latest non-delete order (null = only deletes seen)


def _po(col: str) -> str:
    """Per-column order column: when did an event last SET ``col``."""
    return f"_po_{col}"


# ---------------------------------------------------------------------------
# the monoid: encode -> combine -> project
# ---------------------------------------------------------------------------


def encode_state(
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    *,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Encode raw sparse change events as state rows (one per event):
    per payload column, the (value, set-order) pair; plus the event's
    delete/upsert order. Pure projection — no shuffle."""
    is_del = F.col(op_col) == delete_op if op_col in changes.columns else F.lit(False)
    o = F.col(order_col)
    cols: list[F.Column] = [F.col(k) for k in key_cols]
    for c in payload_cols:
        set_c = ~is_del & F.col(c).isNotNull()
        cols.append(F.when(set_c, F.col(c)).alias(c))
        cols.append(F.when(set_c, o).alias(_po(c)))
    cols.append(F.when(is_del, o).alias(_DEL_O))
    cols.append(F.when(~is_del, o).alias(_LIVE_O))
    return changes.select(*cols)


def combine_state(
    state: DataFrame, key_cols: list[str], payload_cols: list[str]
) -> DataFrame:
    """Collapse state rows to one per key — the monoid combine: one
    hash aggregation with partial (map-side) combine, so hot keys
    shrink before the shuffle (the same skew argument as the LWW
    kernel, ``lake/merge.py`` module docstring §3)."""
    aggs: list[F.Column] = []
    for c in payload_cols:
        # max_by skips rows whose order is null (column not set there)
        aggs.append(
            F.max_by(F.struct(F.col(c).alias("v")), F.col(_po(c))).alias(f"_w_{c}")
        )
        aggs.append(F.max(_po(c)).alias(_po(c)))
    aggs.append(F.max(_DEL_O).alias(_DEL_O))
    aggs.append(F.max(_LIVE_O).alias(_LIVE_O))
    out = state.groupBy(*key_cols).agg(*aggs)
    keep = [*key_cols]
    for c in payload_cols:
        keep.append(F.col(f"_w_{c}.v").alias(c))
        keep.append(F.col(_po(c)))
    keep += [_DEL_O, _LIVE_O]
    return out.select(*keep)


def state_to_current(
    state: DataFrame, key_cols: list[str], payload_cols: list[str]
) -> DataFrame:
    """Final read projection: apply delete masking and liveness."""
    no_del = F.col(_DEL_O).isNull()
    visible = [
        F.when(no_del | (F.col(_po(c)) > F.col(_DEL_O)), F.col(c)).alias(c)
        for c in payload_cols
    ]
    alive = F.col(_LIVE_O).isNotNull() & (no_del | (F.col(_LIVE_O) > F.col(_DEL_O)))
    return state.filter(alive).select(*key_cols, *visible)


def patch_collapse(
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
    payload_cols: list[str],
    *,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """One-shot partial-update collapse of a raw sparse change log:
    keys + column-wise latest-non-null payload, live keys only.
    SQL-expressible (per-column ``arg_max … FILTER``), so it is
    DuckDB-oracle-checked exactly (``tests/test_patch.py``)."""
    st = encode_state(changes, key_cols, order_col, payload_cols, op_col=op_col, delete_op=delete_op)
    return state_to_current(combine_state(st, key_cols, payload_cols), key_cols, payload_cols)


# ---------------------------------------------------------------------------
# the incremental table
# ---------------------------------------------------------------------------


class PatchTable:
    """Merge-on-read partial-update table over :class:`LakeTable`.

    Storage: state-encoded rows (payload value + per-column set-order +
    delete/upsert orders), appended per batch after an O(batch)
    pre-collapse; reads run the same combine over the (bucket-pruned)
    delta files. ``order_col`` must be a single totally-ordered column
    — in a CDC feed that is the log sequence number (Debezium ``lsn``,
    Maxwell ``xid``/``position``, Canal ``es``+offset); composite
    orders must be pre-encoded by the caller, because the stored
    per-column order is a plain column (manifest stats + DuckDB
    checkability), not a struct.

    Exactly-once: ``batch_key`` ledger fast-path, same contract as
    ``merge_changes`` — but convergence never depends on it, because
    the combine is idempotent (replays merge to the same state).
    """

    def __init__(self, table: LakeTable, *, op_col: str = "op"):
        self.table = table
        self.op_col = op_col

    @property
    def payload_cols(self) -> list[str]:
        return list(self.table.snapshot().props["patch_payload_cols"])

    # -- lifecycle ---------------------------------------------------

    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        order_col: str,
        *,
        n_buckets: int = 64,
        op_col: str = "op",
    ) -> "PatchTable":
        """``schema`` is the LOGICAL schema: keys + payload + order (+
        optional op). The stored state schema is derived from it."""
        payload = [
            f.name
            for f in schema.fields
            if f.name not in key_cols and f.name not in (order_col, op_col)
        ]
        if not payload:
            raise ValueError("patch table needs at least one payload column")
        ot = schema[order_col].dataType
        fields = [T.StructField(k, schema[k].dataType, True) for k in key_cols]
        for c in payload:
            fields.append(T.StructField(c, schema[c].dataType, True))
            fields.append(T.StructField(_po(c), ot, True))
        fields.append(T.StructField(_DEL_O, ot, True))
        fields.append(T.StructField(_LIVE_O, ot, True))
        t = LakeTable.create(
            path,
            T.StructType(fields),
            key_cols,
            [_LIVE_O],
            n_buckets=n_buckets,
            props={
                "patch_payload_cols": payload,
                "patch_order_col": order_col,
                "delta_buckets": False,  # reads must use the patch combine, not LWW
            },
        )
        return PatchTable(t, op_col=op_col)

    @staticmethod
    def load(path: str, *, op_col: str = "op") -> "PatchTable":
        return PatchTable(LakeTable.load(path), op_col=op_col)

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
        same optimistic-concurrency retry as ``merge_changes``: a lost
        commit CAS (concurrent writer on this table) re-runs the whole
        batch against the refreshed snapshot — safe because the failed
        attempt never entered the ledger."""
        return retry_on_conflict(
            lambda: self._apply_batch_once(
                spark,
                changes,
                batch_key=batch_key,
                write_salt=write_salt,
                quarantine=quarantine,
                max_ts=max_ts,
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
    ) -> int:
        """Apply one micro-batch of sparse change events. O(batch):
        pre-collapse the batch alone (one hash agg) and append the
        bucketed state rows; no existing file is touched. New payload
        columns appearing mid-batch evolve the schema (value + its
        order column); garbage rows divert to the DLQ via the same
        rename trick as the SCD2 sink (``operators/scd2.py``)."""
        t0 = time.monotonic()
        snap = self.table.snapshot()
        ledger: dict[str, Any] = dict(snap.props.get(_PATCH_LEDGER_KEY, {}))
        if batch_key is not None and batch_key in ledger:
            return snap.version

        key_cols = snap.key_cols
        order_col = snap.props["patch_order_col"]
        payload = list(snap.props["patch_payload_cols"])

        # schema evolution on the LOGICAL surface: a new payload column
        # in the batch adds (value, _po_ value) to the state schema.
        known = set(key_cols) | set(payload) | {order_col, self.op_col}
        new_payload = [
            f.name for f in changes.schema.fields if f.name not in known
        ]
        state_fields = [f for f in snap.schema().fields if f.name != DELETED_COL]
        if new_payload:
            ot = snap.schema()[_LIVE_O].dataType
            for c in new_payload:
                state_fields.append(T.StructField(c, changes.schema[c].dataType, True))
                state_fields.append(T.StructField(_po(c), ot, True))
            payload += new_payload
        # widen shared payload types if the batch arrives wider
        logical_incoming = T.StructType(
            [f for f in changes.schema.fields if f.name in set(payload) | set(key_cols)]
        )
        state_fields = evolve_fields(state_fields, logical_incoming, key_cols, exclude=())

        staged = changes
        if self.op_col not in staged.columns:
            staged = staged.withColumn(self.op_col, F.lit("U"))
        # batches may omit payload columns entirely (a sparse feed that
        # never touches them) — align to the logical surface so the
        # encoder sees every payload column as a typed NULL (= unset)
        value_fields = {f.name: f for f in state_fields if f.name in set(payload)}
        staged = align_to_fields(staged, [value_fields[c] for c in payload])
        bad = garbage_predicate(staged.schema, key_cols, [order_col], max_ts)
        bad_rows = staged.filter(bad)
        clean = staged.filter(~bad)

        st = encode_state(
            clean, key_cols, order_col, payload, op_col=self.op_col, delete_op="D"
        )
        st = combine_state(st, key_cols, payload)  # O(batch) pre-collapse
        st = align_to_fields(st, state_fields)
        st = st.select(
            *[f.name for f in state_fields],
            F.lit(False).alias(DELETED_COL),
            bucket_of(key_cols[0], snap.n_buckets).alias("_bucket"),
        )
        _, entries = self.table.write_data_files(st, write_salt=write_salt)
        if quarantine:
            qdir = self.table.quarantine_path()
            os.makedirs(qdir, exist_ok=True)
            bad_rows.write.mode("append").parquet(qdir)
        self.table.commit(
            new_files=entries,
            expected_version=snap.version,
            schema=stored_schema(state_fields),
            props_update={
                _PATCH_LEDGER_KEY: _trim_ledger(ledger, batch_key, 0, 0),
                "patch_payload_cols": payload,
            },
            lineage=[{"batch_key": batch_key, "wall_s": round(time.monotonic() - t0, 3)}],
        )
        return snap.version + 1

    # -- read --------------------------------------------------------

    def state(
        self, spark: SparkSession, *, buckets: Iterable[int] | None = None
    ) -> DataFrame:
        """Combined (one row per key) state, delete orders retained —
        the compaction input and the debugging surface."""
        snap = self.table.snapshot()
        df = self.table.read(
            spark, buckets=buckets, include_deleted=True, collapse=False
        ).drop(DELETED_COL)
        return combine_state(df, snap.key_cols, list(snap.props["patch_payload_cols"]))

    def read(
        self, spark: SparkSession, *, buckets: Iterable[int] | None = None
    ) -> DataFrame:
        """Current rows: keys + column-wise latest-non-null payload."""
        snap = self.table.snapshot()
        return state_to_current(
            self.state(spark, buckets=buckets),
            snap.key_cols,
            list(snap.props["patch_payload_cols"]),
        )

    # -- maintenance ---------------------------------------------------

    def compact(self, spark: SparkSession, *, write_salt: int = 1) -> int:
        """Fold every bucket's delta files into one combined-state file
        per bucket. Layout-only: the combine is the monoid, so
        compacted-then-patched equals patched-then-compacted
        (asserted by tests/test_patch.py::test_compact_preserves_state)."""
        snap = self.table.snapshot()
        rewrite_buckets(
            self.table,
            snap,
            self.state(spark).withColumn(DELETED_COL, F.lit(False)),
            range(snap.n_buckets),
            write_salt=write_salt,
            lineage=[{"compaction": True}],
        )
        return snap.version + 1
