"""The MERGE kernel: apply a CDC micro-batch to a LakeTable.

Semantics (the reference's Bronze MERGE re-expressed Spark-first,
``sql/02_SDI_SA360/01_BRONZE/MERGE/01_merge_sdi_bronze_sa360_campaign_daily.sql:31-148``):

1. **clean / quarantine** — rows with unusable keys (null ``conv_id``,
   negative ``turn_idx``, null order cols) are diverted to a quarantine
   sink instead of poisoning partitions ("prevent partition garbage",
   same file ``:12,130-132``).
2. **exactly-once ledger** — a batch is identified by
   ``(batch_key, fingerprint)`` where the fingerprint is
   ``bit_xor(xxhash64(key, lsn))`` over the batch (the
   ``(commit_lsn, key-hash)`` idempotency key from BASELINE.json). A
   batch already in the ledger is a no-op; replaying the same events is
   additionally harmless because last-writer-wins is idempotent.
3. **last-writer-wins upsert** — union(existing rows of affected
   buckets, incoming events) → one hash aggregation
   ``max_by(payload_struct, order_struct)`` per key. A hash agg with
   partial (map-side) combine is the scale-correct choice over a window
   sort: hot keys collapse before the shuffle, so Zipf-skewed
   conversations cannot stall a reducer (the explicit skew handling the
   north rule asks for; the window-based variant lives in
   ``operators/dedupe.py`` for parity with the reference's
   ``ROW_NUMBER`` idiom, same file ``:134-146``).
4. **tombstone retention** — a winning ``op='D'`` is kept as a
   ``_deleted=true`` row (even for keys never seen) so a late-arriving
   older update can never resurrect a deleted key. Readers filter
   tombstones; ``expire_tombstones`` compacts them past a watermark
   (the analog of the reference's scoped ``WHEN NOT MATCHED BY SOURCE …
   DELETE`` windows, ``sql/05_SDI_PROFOUND/…/01_sp_reconcile_…:176-178``).
5. **schema evolution** — new payload columns in the batch (e.g.
   ``tool`` appearing mid-stream) are added to the table schema;
   old files read back with nulls; batches missing table columns get
   nulls (the reference's explicit-column-list + ADD COLUMN IF NOT
   EXISTS discipline, ``…campaign_entity.sql:20``,
   ``01_Notebook_v8.ipynb`` ``_ensure_review_table_schema``).
6. **partition-scoped rewrite** — only the key-hash buckets present in
   the batch are rewritten; the manifest carries everything else over.

Shuffle budget per batch: exactly two — the LWW hash agg (keyed by the
merge key) and the bucket-layout repartition before write (the
Iceberg ``write.distribution-mode=hash`` analog).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from .table import (
    DELETED_COL,
    CommitConflict,
    LakeTable,
    bucket_of,
    lww_collapse,
    retry_on_conflict,
    stored_schema,
)

_LEDGER_KEY = "ledger"
_LEDGER_MAX = 1024  # retained ledger entries; older batches are protected by LWW idempotence anyway

# Safe type promotions (the Iceberg schema-evolution set): a column may
# widen mid-stream and existing files stay readable — Spark's parquet
# reader upcasts int32→int64 and float→double at scan time, so
# promotion is a MANIFEST change only, never a file rewrite.
_WIDENS: set[tuple[type, type]] = {
    (T.ByteType, T.ShortType),
    (T.ByteType, T.IntegerType),
    (T.ByteType, T.LongType),
    (T.ShortType, T.IntegerType),
    (T.ShortType, T.LongType),
    (T.IntegerType, T.LongType),
    (T.FloatType, T.DoubleType),
}


def _promote_type(table_t: T.DataType, batch_t: T.DataType, col: str) -> T.DataType:
    """Resolve a shared column's evolved type: identical → unchanged;
    batch wider → promote the table (int→long, float→double);
    batch narrower → keep the table type (the batch casts up);
    anything else (string→int, double→long, …) → refuse loudly —
    an incompatible type change is a feed-contract violation and
    silently coercing it would corrupt LWW comparisons."""
    if table_t == batch_t:
        return table_t
    if (type(table_t), type(batch_t)) in _WIDENS:
        return batch_t
    if (type(batch_t), type(table_t)) in _WIDENS:
        return table_t
    raise ValueError(
        f"incompatible type change for column {col!r}: table {table_t.simpleString()}"
        f" vs batch {batch_t.simpleString()}"
    )


def evolve_fields(
    table_fields: list[T.StructField],
    incoming: T.StructType,
    key_cols: list[str],
    *,
    exclude: tuple[str, ...] = ("op", "commit_lsn"),
) -> list[T.StructField]:
    """Evolved business-field list for one batch: table fields with
    type promotion where the batch arrives wider, plus new payload
    columns appended. KEY columns may never change type — bucketing
    and the exactly-once fingerprint hash the key's binary encoding
    (``xxhash64``), so a key-type change would silently re-bucket
    every existing row."""
    incoming_names = set(incoming.fieldNames())
    evolved: list[T.StructField] = []
    for f in table_fields:
        if f.name in incoming_names and incoming[f.name].dataType != f.dataType:
            if f.name in key_cols:
                raise ValueError(
                    f"key column {f.name!r} type change is not supported: table"
                    f" {f.dataType.simpleString()} vs batch {incoming[f.name].dataType.simpleString()}"
                    " (bucket layout hashes the key's binary encoding)"
                )
            evolved.append(
                T.StructField(f.name, _promote_type(f.dataType, incoming[f.name].dataType, f.name), True)
            )
        else:
            evolved.append(f)
    table_names = {f.name for f in table_fields}
    for c in incoming.fieldNames():
        if c not in table_names and c not in exclude:
            evolved.append(T.StructField(c, incoming[c].dataType, True))
    return evolved


def garbage_predicate(
    schema: T.StructType, key_cols: list[str], order_cols: list[str], max_ts=None
):
    """The engine-wide definition of an unappliable change event: null
    key or order values, negative integer keys, a null ``op`` (the wire
    decoders emit null-op rows for garbage JSON / DDL / unknown op codes
    — an event whose intent is unknown must never be applied), or an
    order timestamp beyond the future-skew bound. Shared by the MERGE
    kernel and the SCD2 history sink so "garbage" means the same thing
    everywhere."""
    bad = F.col(key_cols[0]).isNull()
    for k in key_cols[1:]:
        bad = bad | F.col(k).isNull()
        if isinstance(schema[k].dataType, (T.IntegerType, T.LongType)):
            bad = bad | (F.col(k) < 0)
    for oc in order_cols:
        bad = bad | F.col(oc).isNull()
    if "op" in schema.fieldNames():
        bad = bad | F.col("op").isNull()
    if max_ts is not None:
        bad = bad | (F.col(order_cols[0]) > F.lit(max_ts))
    return bad


def _to_physical_batch(changes: DataFrame, snap) -> tuple[DataFrame, dict]:
    """Translate an incoming (logical-named) batch to the table's
    physical layout — the write-side half of metadata-only rename/drop
    (see ``LakeTable.rename_column``). Returns the translated frame and
    any ``column_mapping`` additions that must ride the commit.

    Binding rules, per batch column (``op``/``commit_lsn`` excluded):

    - current **logical** name of a renamed column → bound to its
      physical column;
    - untouched name (logical == physical) → passthrough;
    - **renamed-away old name** → still bound to the ORIGINAL physical
      column. This deliberately diverges from Iceberg's "old name is
      free" rule: in a CDC stream a rename happens mid-flight, and
      events produced before the rename (or quarantine replays, which
      store physical layout) must keep landing in the renamed column,
      not silently fork a new one;
    - **dropped** column's name → a FRESH physical column
      (``{name}__v2``, ``__v3``…): re-adding a dropped name never
      resurrects old values (the Iceberg field-ID semantic);
    - brand-new name → itself (identity physical).

    A batch carrying BOTH a logical name and its physical alias is
    ambiguous and refused."""
    m = snap.mapping() if hasattr(snap, "mapping") else {}
    if not m:
        return changes, {}
    phys_names = set(snap.schema().fieldNames())
    logical_to_phys = {l: p for p, l in m.items() if l is not None}
    select_as: dict[str, str] = {}
    mapping_update: dict[str, str] = {}
    for c in changes.columns:
        if c in ("op", "commit_lsn") or c.startswith("_"):
            select_as[c] = c
            continue
        if c in logical_to_phys:
            select_as[c] = logical_to_phys[c]
        elif c in phys_names and m.get(c, c) is None:  # dropped → fresh column
            k = 2
            while f"{c}__v{k}" in phys_names or f"{c}__v{k}" in mapping_update:
                k += 1
            fresh = f"{c}__v{k}"
            select_as[c] = fresh
            mapping_update[fresh] = c
        else:
            select_as[c] = c  # identity / renamed-away alias / new column
    targets = list(select_as.values())
    dupes = {t for t in targets if targets.count(t) > 1}
    if dupes:
        raise ValueError(
            f"batch binds multiple columns to the same physical column(s) {sorted(dupes)} "
            "(a logical name and its old alias in one batch?)"
        )
    if all(src == dst for src, dst in select_as.items()):
        return changes, mapping_update
    return (
        changes.select(*[F.col(src).alias(dst) for src, dst in select_as.items()]),
        mapping_update,
    )


def align_to_fields(df: DataFrame, fields: list[T.StructField]) -> DataFrame:
    """Add missing evolved columns as typed NULLs and cast any column
    whose batch type differs from the evolved type (narrower batches
    cast up; wider ones were already promoted by ``evolve_fields``)."""
    for f_ in fields:
        if f_.name not in df.columns:
            df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
        elif df.schema[f_.name].dataType != f_.dataType:
            df = df.withColumn(f_.name, F.col(f_.name).cast(f_.dataType))
    return df


def _stage_batch(changes: DataFrame, snap) -> tuple[DataFrame, list[T.StructField], dict]:
    """Stage an incoming batch against ``snap``: bind its logical names to
    the table's physical columns, evolve the business fields (new payload
    columns append; shared columns may WIDEN — int→long, float→double,
    manifest-only since old files upcast at scan; key-column type changes
    are refused), align the batch to them and default ``op`` to ``'U'``.
    Returns the staged frame, the evolved fields and the
    ``column_mapping`` additions that must ride the commit."""
    changes, mapping_update = _to_physical_batch(changes, snap)
    fields = evolve_fields(_business_fields(snap.schema()), changes.schema, snap.key_cols)
    staged = align_to_fields(changes, fields)
    if "op" not in staged.columns:
        staged = staged.withColumn("op", F.lit("U"))
    return staged, fields, mapping_update


def _mapping_props(snap, mapping_update: dict) -> dict:
    """Props update committing ``mapping_update`` on top of ``snap``'s
    ``column_mapping``. Additions (a re-added dropped column's fresh
    physical name) must ride the same commit as the data, or the logical
    column forks across physical columns on the next write."""
    return {"column_mapping": {**snap.mapping(), **mapping_update}} if mapping_update else {}


@dataclass
class MergeResult:
    version: int
    skipped: bool = False
    events_in: int = 0
    quarantined: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    upserts: int = 0  # MOR mode: batch winners incl. updates-of-unknown-keys
    keys_written: int = 0
    affected_buckets: list[int] = field(default_factory=list)
    strategy: str = "cow"
    wall_s: float = 0.0
    phase_walls: dict = field(default_factory=dict)  # per-phase seconds (telemetry)


def _business_fields(schema: T.StructType) -> list[T.StructField]:
    return [f for f in schema.fields if f.name != DELETED_COL]


def merge_changes(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    *,
    batch_key: str | None = None,
    write_salt: int = 1,
    quarantine: bool = True,
    strategy: str = "cow",
    max_ts=None,
    conflict_retries: int = 0,
    extra_props: dict | None = None,
) -> MergeResult:
    """Apply one micro-batch of CDC events — see :func:`_merge_changes_once`
    for the full semantics. ``conflict_retries`` adds optimistic-concurrency
    retry (:func:`~.table.retry_on_conflict`): every commit validates
    ``expected_version`` against the snapshot the merge was computed from,
    so a concurrent writer (another apply, a compaction, a reconcile
    backfill) surfaces as :class:`CommitConflict`.

    Conflict cost depends on the strategy. **COW** retries RE-RUN the
    whole merge against the refreshed snapshot — the rewritten bucket
    files depend on table state, so nothing can be salvaged. **MOR**
    losers first REBASE their delta files onto the new head, up to
    ``conflict_retries`` times inside each run (:func:`append_and_rebase`);
    a concurrent rescale or column rename/drop falls back to the re-run.
    Safe either way: the failed attempt never entered the ledger, and
    read-time LWW makes a replayed batch idempotent."""
    return retry_on_conflict(
        lambda: _merge_changes_once(
            spark,
            table,
            changes,
            batch_key=batch_key,
            write_salt=write_salt,
            quarantine=quarantine,
            strategy=strategy,
            max_ts=max_ts,
            extra_props=extra_props,
            conflict_retries=conflict_retries,
        ),
        conflict_retries,
    )


def _merge_changes_once(
    spark: SparkSession,
    table: LakeTable,
    changes: DataFrame,
    *,
    batch_key: str | None = None,
    write_salt: int = 1,
    quarantine: bool = True,
    strategy: str = "cow",
    max_ts=None,
    extra_props: dict | None = None,
    conflict_retries: int = 0,
) -> MergeResult:
    """Apply one micro-batch of CDC events (schema: key cols + payload +
    order cols + optional ``op``/``commit_lsn``) to ``table``.

    ``strategy``:

    - ``"cow"`` (copy-on-write): union existing rows of affected buckets
      with the batch, collapse LWW, rewrite those buckets. Read-optimal;
      write cost grows with table size once batches touch every bucket.
    ``max_ts``: the future-bucket guard (the reference's
    ``max_allowed_qgp_week`` refusal, ``sql/02_SDI_SA360/03_GOLD/MERGE/
    01_sp_merge_sdi_gold_sa360_campaign_weekly_long.sql:8,23-32``) —
    events with ``ts`` beyond this bound are quarantined instead of
    poisoning future partitions. Pass an explicit bound (e.g. wall
    clock + allowed skew); it is never defaulted from ``now()`` so
    replays stay deterministic.

    - ``"mor"`` (merge-on-read): collapse the batch alone and *append*
      the winners as bucketed delta files — apply cost is O(batch)
      regardless of table size (the Iceberg/Hudi merge-on-read shape;
      the sustained-throughput path for a 10^10-event replay). Reads
      collapse versions on the fly until :func:`compact` folds the
      deltas down. Exactly-once, tombstones, schema evolution and
      quarantine behave identically; replaying the same events is
      harmless because read-time LWW is idempotent.

    ``extra_props``: caller table-prop updates that must ride the SAME
    atomic commit as the merge (e.g. an incremental-maintenance sync
    cursor — crash between "data applied" and "cursor advanced" would
    otherwise double-apply). Reserved prop keys are refused.
    """
    t0 = time.monotonic()
    for k in extra_props or {}:
        if k in (_LEDGER_KEY, "max_commit_lsn", "delta_buckets", "tombstone_watermark_lsn", "column_mapping"):
            raise ValueError(f"extra_props key {k!r} is reserved")
    snap = table.snapshot()
    key_cols = snap.key_cols
    order_cols = snap.order_cols
    ledger: dict[str, Any] = dict(snap.props.get(_LEDGER_KEY, {}))

    if batch_key is not None and batch_key in ledger:
        return MergeResult(version=snap.version, skipped=True, wall_s=time.monotonic() - t0)

    has_commit = "commit_lsn" in changes.columns
    staged, evolved_fields, mapping_update = _stage_batch(changes, snap)
    evolved_names = [f.name for f in evolved_fields]

    # ---- clean / quarantine / bucket ------------------------------------
    bad = garbage_predicate(staged.schema, key_cols, order_cols, max_ts)
    staged = staged.withColumn(
        "_bucket", F.when(bad, F.lit(-1)).otherwise(bucket_of(key_cols[0], snap.n_buckets))
    )
    phases: dict[str, float] = {}
    t_mark = time.monotonic()

    fp_expr = F.expr(
        "bit_xor(case when _bucket >= 0 then xxhash64({cols}) else 0 end)".format(
            cols=", ".join([*key_cols, order_cols[-1]])
        )
    )
    commit_expr = F.max("commit_lsn") if has_commit else F.max(F.lit(0))

    if strategy == "mor":
        return _merge_mor(
            table, staged, snap, evolved_fields, batch_key, write_salt, quarantine,
            fp_expr, commit_expr, t0, phases, extra_props, mapping_update, conflict_retries,
        )

    staged.persist(StorageLevel.MEMORY_AND_DISK)

    # One partial-agg pass gives affected buckets, counts, and the
    # exactly-once fingerprint without a full shuffle.
    per_bucket = (
        staged.groupBy("_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fp_expr.alias("fp"),
            commit_expr.alias("max_commit"),
        )
        .collect()
    )
    phases["stats_agg"] = time.monotonic() - t_mark
    events_in = sum(r["n"] for r in per_bucket)
    n_quarantined = sum(r["n"] for r in per_bucket if r["_bucket"] == -1)
    affected = sorted(r["_bucket"] for r in per_bucket if r["_bucket"] >= 0)
    fingerprint = 0
    max_commit = 0
    for r in per_bucket:
        if r["_bucket"] >= 0:
            fingerprint ^= int(r["fp"] or 0)
            max_commit = max(max_commit, int(r["max_commit"] or 0))

    if quarantine and n_quarantined:
        (
            staged.filter(F.col("_bucket") == -1)
            .drop("_bucket")
            .write.mode("append")
            .parquet(table.quarantine_path())
        )

    if not affected:
        staged.unpersist()
        res = _ledger_only_commit(
            table, snap.version, ledger, batch_key, fingerprint, max_commit, extra_props=extra_props
        )
        res.events_in, res.quarantined = events_in, n_quarantined
        res.wall_s = time.monotonic() - t0
        return res

    clean = staged.filter(F.col("_bucket") >= 0)

    # ---- union existing + batch, one LWW hash-agg ------------------------
    existing = table.read(spark, buckets=affected, include_deleted=True, collapse=False, physical=True)
    # old files lack newly-evolved columns / carry pre-promotion types
    existing = align_to_fields(existing, evolved_fields)
    existing_side = existing.select(
        *evolved_names, F.col(DELETED_COL), F.lit(1).alias("_in_table"), F.lit(0).alias("_from_batch")
    )
    batch_side = clean.select(
        *evolved_names,
        (F.col("op") == "D").alias(DELETED_COL),
        F.lit(0).alias("_in_table"),
        F.lit(1).alias("_from_batch"),
    )
    unioned = existing_side.unionByName(batch_side)

    payload_names = [c for c in evolved_names if c not in key_cols]
    order_struct = F.struct(*[F.col(c) for c in order_cols])
    payload_struct = F.struct(
        *[F.col(c) for c in payload_names], F.col(DELETED_COL), F.col("_from_batch")
    )
    winners = (
        unioned.groupBy(*key_cols)
        .agg(
            F.max_by(payload_struct, order_struct).alias("_w"),
            F.max("_in_table").alias("_existed"),
        )
        .select(
            *key_cols,
            *[F.col(f"_w.{c}").alias(c) for c in payload_names],
            F.col(f"_w.{DELETED_COL}").alias(DELETED_COL),
            F.col("_w._from_batch").alias("_from_batch"),
            F.col("_existed"),
        )
        .withColumn("_bucket", bucket_of(key_cols[0], snap.n_buckets))
    )
    winners.persist(StorageLevel.MEMORY_AND_DISK)
    t_mark = time.monotonic()

    # per-bucket lineage + batch metrics in one small agg
    lineage_rows = (
        winners.groupBy("_bucket")
        .agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum(((F.col("_from_batch") == 1) & (F.col("_existed") == 0) & ~F.col(DELETED_COL)).cast("long")).alias("inserts"),
            F.sum(((F.col("_from_batch") == 1) & (F.col("_existed") == 1) & ~F.col(DELETED_COL)).cast("long")).alias("updates"),
            F.sum(((F.col("_from_batch") == 1) & F.col(DELETED_COL)).cast("long")).alias("deletes"),
            F.max(F.col(order_cols[-1])).alias("max_order"),
        )
        .collect()
    )
    phases["lww_agg"] = time.monotonic() - t_mark

    lineage = [
        {
            "bucket": int(r["_bucket"]),
            "keys": int(r["keys"]),
            "inserts": int(r["inserts"]),
            "updates": int(r["updates"]),
            "deletes": int(r["deletes"]),
            "batch_key": batch_key,
        }
        for r in lineage_rows
    ]
    t_mark = time.monotonic()
    rewrite_buckets(
        table,
        snap,
        winners.select(*evolved_names, DELETED_COL),
        affected,
        write_salt=write_salt,
        schema=stored_schema(evolved_fields),
        props_update={
            _LEDGER_KEY: _trim_ledger(ledger, batch_key, fingerprint, max_commit),
            "max_commit_lsn": max(max_commit, int(snap.props.get("max_commit_lsn", 0))),
            **_mapping_props(snap, mapping_update),
            **(extra_props or {}),
        },
        lineage=lineage,
    )
    phases["write"] = time.monotonic() - t_mark
    phases.update(getattr(table, "last_write_walls", {}))

    res = MergeResult(
        version=snap.version + 1,
        events_in=events_in,
        quarantined=n_quarantined,
        inserts=sum(r["inserts"] for r in lineage),
        updates=sum(r["updates"] for r in lineage),
        deletes=sum(r["deletes"] for r in lineage),
        keys_written=sum(r["keys"] for r in lineage),
        affected_buckets=affected,
        wall_s=time.monotonic() - t0,
        phase_walls={k: round(v, 3) for k, v in phases.items()},
    )
    winners.unpersist()
    staged.unpersist()
    return res


def _merge_mor(
    table, staged, snap, evolved_fields, batch_key, write_salt, quarantine,
    fp_expr, commit_expr, t0, phases, extra_props, mapping_update, rebase_retries,
):
    """Append-only merge-on-read apply: collapse the batch alone, append
    winners as bucketed delta files. No read of existing data — apply
    cost is O(batch), and the WRITE JOB is the only pass over the batch:
    batch stats (count / quarantine / exactly-once fingerprint / max
    commit lsn) ride along as an ``Observation`` on the write job
    itself, and per-bucket lineage (keys, deletes) rides the
    executor-side file-stats job that every commit already runs
    (``LakeTable._stats_job``). Round 1 paid an extra lineage
    aggregation job plus a full persist of the winners per batch; both
    are gone — the fixed per-batch driver cost is now one write job +
    one column-pruned stats job, which is what lets small batches keep
    N→4N scaling efficiency. The files commit through
    :func:`append_and_rebase`, so a lost CAS rebases instead of
    re-running the batch."""
    from pyspark.sql import Observation

    t_mark = time.monotonic()
    key_cols, order_cols = snap.key_cols, snap.order_cols
    evolved_names = [f.name for f in evolved_fields]

    # NO persist and NO second pass over the batch: the write job is the
    # ONLY pass. Garbage rows (bucket -1) ride the SAME shuffle + write,
    # landing in the ``_bucket=-1`` partition directory, whose files are
    # then RENAMED into the quarantine DLQ instead of being committed —
    # the earlier design recomputed the whole batch lineage to find the
    # ~1% garbage, which at 32M-event generator batches cost 3× the
    # write job itself (measured; see BASELINE.md round-4 notes).
    #
    # Garbage rows must not collapse with (or into) clean rows, so the
    # LWW group key gains two columns: ``_bucket`` (clean rows: a pure
    # function of the key, so no clean group splits; garbage rows: -1,
    # isolating them from same-key clean rows — e.g. a future-ts event
    # must never beat its key's clean version) and ``_gkey`` (a payload
    # hash, 0 for clean rows, keeping DISTINCT garbage rows distinct
    # while exact duplicate deliveries still collapse; a 64-bit
    # collision between distinct same-key garbage rows is the accepted
    # ~1e-9 risk). ``op`` is carried through the write so the DLQ files
    # keep the original intent; table reads project the snapshot schema
    # and never see the vestigial column.
    obs = Observation()
    staged_obs = staged.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("_bucket") == -1).cast("long")).alias("quar"),
        fp_expr.alias("fp"),
        commit_expr.alias("maxc"),
    )
    gkey = F.when(
        F.col("_bucket") == -1,
        F.coalesce(F.xxhash64(*[F.col(c) for c in evolved_names], F.col("op")), F.lit(0)),
    ).otherwise(F.lit(0))
    batch_side = staged_obs.select(
        *evolved_names,
        "op",
        (F.col("op") == "D").alias(DELETED_COL),
        F.col("_bucket"),
        gkey.alias("_gkey"),
    )
    winners = lww_collapse(batch_side, [*key_cols, "_bucket", "_gkey"], order_cols)
    _, new_files = table.write_data_files(
        winners.select(*evolved_names, "op", DELETED_COL, "_bucket"),
        write_salt=write_salt,
        extra_stats={"deletes": F.sum(F.col(DELETED_COL).cast("long"))},
    )
    stats = obs.get  # populated by the write job
    events_in = int(stats["n"] or 0)
    n_quarantined = int(stats["quar"] or 0)
    fingerprint = int(stats["fp"] or 0)
    max_commit = int(stats["maxc"] or 0)
    phases["write"] = time.monotonic() - t_mark
    phases.update(getattr(table, "last_write_walls", {}))
    t_mark = time.monotonic()

    # per-bucket lineage from the file-stats entries (strip the ride-
    # along metric so the manifest stays minimal)
    per_bucket: dict[int, dict[str, int]] = {}
    for f_ in new_files:
        deletes = int(f_.pop("deletes", 0) or 0)
        if f_["bucket"] >= 0:
            d = per_bucket.setdefault(f_["bucket"], {"keys": 0, "deletes": 0, "files": 0})
            d["keys"] += f_["rows"]
            d["deletes"] += deletes
            d["files"] += 1
    lineage = [
        {"bucket": b, "keys": d["keys"], "deletes": d["deletes"], "mode": "mor", "batch_key": batch_key}
        for b, d in sorted(per_bucket.items())
    ]

    def commit_args(head) -> dict:
        # every prop is recomputed from the head the files land on;
        # concurrent schema evolution re-merges via evolve_fields
        # (incompatible concurrent type changes stay loud)
        props = {
            _LEDGER_KEY: _trim_ledger(
                dict(head.props.get(_LEDGER_KEY, {})), batch_key, fingerprint, max_commit
            )
        }
        if not per_bucket:  # nothing clean to append: record the batch only
            return {"props_update": {**props, **(extra_props or {})}}
        delta_buckets = dict(head.props.get("delta_buckets", {}))
        for b, d in per_bucket.items():
            delta_buckets[str(b)] = delta_buckets.get(str(b), 0) + d["files"]
        fields = evolve_fields(_business_fields(head.schema()), T.StructType(evolved_fields), key_cols)
        return {
            "schema": stored_schema(fields),
            "props_update": {
                **props,
                "max_commit_lsn": max(max_commit, int(head.props.get("max_commit_lsn", 0))),
                "delta_buckets": delta_buckets,
                **_mapping_props(head, mapping_update),
                **(extra_props or {}),
            },
            "lineage": lineage,
        }

    version, skipped = append_and_rebase(
        table, snap, new_files, commit_args,
        batch_key=batch_key, ledger_key=_LEDGER_KEY, quarantine=quarantine, retries=rebase_retries,
    )
    phases["commit"] = time.monotonic() - t_mark
    if skipped:
        return MergeResult(
            version=version, skipped=True, events_in=events_in, quarantined=n_quarantined,
            strategy="mor", wall_s=time.monotonic() - t0,
        )
    deletes = sum(d["deletes"] for d in per_bucket.values())
    keys = sum(d["keys"] for d in per_bucket.values())
    return MergeResult(
        version=version,
        events_in=events_in,
        quarantined=n_quarantined,
        deletes=deletes,
        upserts=keys - deletes,
        keys_written=keys,
        affected_buckets=sorted(per_bucket),
        strategy="mor",
        wall_s=time.monotonic() - t0,
        phase_walls={k: round(v, 3) for k, v in phases.items()},
    )


def append_and_rebase(
    table: LakeTable,
    snap,
    entries: list[dict],
    commit_args: Callable[[Any], dict],
    *,
    batch_key: str | None,
    ledger_key: str,
    quarantine: bool,
    retries: int,
) -> tuple[int, bool]:
    """Publish freshly written append files on top of ``snap`` — the
    commit tail shared by the MOR merge and the SCD2 history sink.
    ``entries`` come from :meth:`LakeTable.write_data_files`; files of
    the garbage bucket ``-1`` are RENAMED into the quarantine DLQ (no
    data pass; deleted when ``quarantine`` is off), the rest commit with
    ``commit_args(head)`` (schema / props / lineage recomputed against
    the head they land on). Returns ``(version, skipped)``.

    Conflict REBASE: the files are computed from the batch ALONE, so a
    lost commit CAS invalidates only the bookkeeping read against a
    stale head. The loser re-reads the head and re-offers the SAME files,
    up to ``retries`` times — O(one manifest read + one props commit)
    per lost race instead of O(batch recompute + rewrite), which is what
    makes N concurrent writers on one table (second pipeline,
    snapshot-bootstrap chunks, compactor) cheap. Two heads end the
    rebase, and both delete the staged files rather than orphan them:
    one where another writer already ledgered ``batch_key`` (a clean
    skip), and one whose bucket spec or ``column_mapping`` changed, where
    :class:`CommitConflict` asks the caller's outer retry for a full
    re-run — a rescale makes the files' bucket ids meaningless, and a
    concurrent rename or drop rebinds logical names the staged files
    already bound to physical columns. The mapping check compares the
    whole dict: even a pure addition (a rename of ``tool`` to
    ``label``) moves where ``label`` binds."""
    dlq = [e for e in entries if e["bucket"] == -1]
    files = [e for e in entries if e["bucket"] >= 0]
    if dlq:
        qdir = table.quarantine_path()
        os.makedirs(qdir, exist_ok=True)
        if quarantine:
            for e in dlq:
                src = os.path.join(table.path, e["path"])
                os.rename(src, os.path.join(qdir, os.path.basename(e["path"])))
        else:
            _delete_files(table, dlq)
    rebasing = False

    def offer() -> tuple[int, bool] | None:
        nonlocal rebasing
        head = snap
        if rebasing:
            head = table.snapshot()
            if files and (head.n_buckets != snap.n_buckets or head.mapping() != snap.mapping()):
                return None
            if batch_key is not None and batch_key in head.props.get(ledger_key, {}):
                return head.version, True
        rebasing = True
        table.commit(new_files=files, expected_version=head.version, **commit_args(head))
        return head.version + 1, False

    out = retry_on_conflict(offer, retries)
    if out is None or out[1]:
        _delete_files(table, files)
    if out is None:
        raise CommitConflict("bucket spec or column mapping changed under an append; full re-run required")
    return out


def _delete_files(table: LakeTable, entries: list[dict]) -> None:
    """Delete staged data files that will never be committed."""
    for e in entries:
        try:
            os.remove(os.path.join(table.path, e["path"]))
        except OSError:
            pass


def compact(
    spark: SparkSession,
    table: LakeTable,
    *,
    write_salt: int = 1,
    all_buckets: bool = False,
    conflict_retries: int = 0,
    cluster_by: list[str] | None = None,
    cluster_mode: str = "range",
    buckets: list[int] | None = None,
) -> int:
    """Optimistic-concurrency wrapper around :func:`_compact_once`: a
    background compactor racing the foreground apply loses the commit CAS
    (its ``expected_version`` went stale) and simply re-reads and re-folds —
    the apply never waits on compaction. Raises after ``conflict_retries``
    losses so a hot table degrades loudly, not silently.

    ``cluster_by`` range-clusters the rewritten files on those columns
    (see :meth:`LakeTable.write_data_files`): compaction is exactly when
    a 100 TB table buys back read locality, turning later ``stats_range``
    dashboard reads into sliver scans instead of full-bucket scans."""
    return retry_on_conflict(
        lambda: _compact_once(
            spark, table, write_salt=write_salt, all_buckets=all_buckets,
            cluster_by=cluster_by, cluster_mode=cluster_mode, buckets=buckets,
        ),
        conflict_retries,
    )


def _compact_once(
    spark: SparkSession,
    table: LakeTable,
    *,
    write_salt: int = 1,
    all_buckets: bool = False,
    cluster_by: list[str] | None = None,
    cluster_mode: str = "range",
    buckets: list[int] | None = None,
) -> int:
    """Fold merge-on-read delta files down: one LWW collapse per bucket,
    rewrite as canonical files (tombstones retained — they still guard
    against late resurrection until :func:`expire_tombstones`). The
    background-maintenance half of the MOR bargain; scheduling it per N
    batches bounds read amplification.

    Scope is the buckets that actually carry deltas (the snapshot's
    ``delta_buckets`` bookkeeping) — at 100 TB a compaction must not
    rewrite the 90% of the table untouched since the last one.
    ``buckets`` narrows the scope further (intersected with the delta'd
    set) — the per-bucket trigger granularity: the runner's
    ``compact_tail_files_over`` compacts ONLY the buckets whose delta
    tail crossed the threshold, so hot buckets fold often and cold ones
    are never rewritten (Paimon/Hudi num-delta-commits trigger shape).
    ``all_buckets=True`` forces the full rewrite (defragmentation).
    Returns rows written (0 = nothing to fold)."""
    snap = table.snapshot()
    if cluster_by:  # callers speak logical names; files are physical
        cluster_by = [snap.physical_of(c) or c for c in cluster_by]
    delta = snap.props.get("delta_buckets", {})
    if all_buckets:
        scope = list(range(snap.n_buckets))
    else:
        scope = sorted(int(b) for b in delta)
        if buckets is not None:
            scope = sorted(set(scope) & {int(b) for b in buckets})
        if not scope:
            return 0
    df = table.read(spark, buckets=scope, include_deleted=True, physical=True)  # collapse auto-applies
    new_files = rewrite_buckets(
        table, snap, df, scope, write_salt=write_salt, cluster_by=cluster_by, cluster_mode=cluster_mode
    )
    return sum(f["rows"] for f in new_files)


def rewrite_buckets(
    table: LakeTable,
    snap,
    rows: DataFrame,
    scope: Iterable[int],
    *,
    n_buckets: int | None = None,
    write_salt: int = 1,
    cluster_by: list[str] | None = None,
    cluster_mode: str = "range",
    schema: T.StructType | None = None,
    props_update: dict | None = None,
    lineage: list[dict] | Callable[[list[dict]], list[dict]] | None = None,
) -> list[dict]:
    """Replace buckets ``scope`` of ``snap`` with ``rows`` (physical
    layout, ``_deleted`` included) in one commit against ``snap.version``
    — the primitive behind every bucket-rewriting writer: the COW merge,
    compaction, rescale, full replace, window reconcile, tombstone expiry
    and the SCD2 / patch compactions. Rows are bucketed by the first key
    column under ``n_buckets`` (default: the snapshot's; a different
    count is a bucket-spec change and needs every bucket in ``scope``).
    The rewrite folds any merge-on-read deltas of ``scope`` down, so those
    buckets leave the ``delta_buckets`` bookkeeping — unless the table
    stores ``delta_buckets: False`` (reads that must never LWW-collapse),
    which is kept. ``lineage`` may be a function of the written file
    entries. Returns the written file entries."""
    scope = list(scope)
    _, new_files = table.write_data_files(
        rows.withColumn("_bucket", bucket_of(snap.key_cols[0], n_buckets or snap.n_buckets)),
        write_salt=write_salt,
        n_buckets=n_buckets,
        cluster_by=cluster_by,
        cluster_mode=cluster_mode,
    )
    props = dict(props_update or {})
    delta = snap.props.get("delta_buckets", {})
    if isinstance(delta, dict):
        folded = {str(b) for b in scope}
        props["delta_buckets"] = {b: n for b, n in delta.items() if b not in folded}
    table.commit(
        new_files=new_files,
        replaced_buckets=scope,
        expected_version=snap.version,
        schema=schema,
        props_update=props,
        lineage=lineage(new_files) if callable(lineage) else lineage,
        n_buckets=n_buckets,
    )
    return new_files


def rescale_buckets(
    spark: SparkSession,
    table: LakeTable,
    new_n_buckets: int,
    *,
    write_salt: int = 1,
    conflict_retries: int = 0,
) -> int:
    """Change the table's key-hash bucket count — the partition-spec
    evolution a 10^10-event table eventually needs (a 64-bucket table at
    that scale is ~150 GB/bucket; growing the spec restores pruning
    granularity and write parallelism). Realized as ONE atomic
    full-rewrite commit: every row is re-bucketed under the new spec, MOR
    deltas fold down in passing, tombstones are retained (they still
    guard late resurrection), and the ledger carries over so replayed
    batches keep skipping. Old snapshots keep their own ``n_buckets`` —
    time travel reads each version under the spec it was written with.

    O(table) by design — this is a scheduled maintenance operation, not a
    per-batch one; the commit CAS (``expected_version``) makes it safe to
    run while the apply loop is live, and ``conflict_retries`` re-runs the
    rewrite if the apply wins a race. Returns rows rewritten."""
    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")

    def once() -> int:
        snap = table.snapshot()
        if snap.n_buckets == new_n_buckets:
            return 0
        new_files = rewrite_buckets(
            table,
            snap,
            table.read(spark, include_deleted=True, collapse=True, physical=True),
            range(snap.n_buckets),
            n_buckets=new_n_buckets,
            write_salt=write_salt,
            lineage=lambda files: [
                {
                    "mode": "rescale",
                    "from_buckets": snap.n_buckets,
                    "to_buckets": new_n_buckets,
                    "rows": sum(f["rows"] for f in files),
                }
            ],
        )
        return sum(f["rows"] for f in new_files)

    return retry_on_conflict(once, conflict_retries)


def replace_full(
    spark: SparkSession,
    table: LakeTable,
    df: DataFrame,
    *,
    batch_key: str | None = None,
    write_salt: int = 1,
    conflict_retries: int = 0,
    extra_props: dict | None = None,
) -> MergeResult:
    """S5: CREATE-OR-REPLACE full rebuild — the source dataframe IS the
    new table state, swapped in atomically as one snapshot (the
    reference's procedures that rebuild a physical table from raw each
    run, ``sql/19_SDI_PULSE_TMS_v2/01_BRONZE/02_sp_sdi_pulseTms_bronze_
    adobeFunnel_weekly.sql:24-31``; ``sql/10_SDI_ADOBE_INTEGRATED/
    01_SP_MERGE/01_sp_refresh_tsr_postpaid_daily_combined.sql:46-50``).

    Readers at the previous snapshot version are unaffected (immutable
    files + manifest chain = time travel across the rebuild). Collapses
    the input by the table's LWW order first so a raw multi-version
    feed is a valid source. Schema may gain columns (additive
    evolution), same as MERGE.

    ``conflict_retries`` re-runs the rebuild against the refreshed
    snapshot on a lost commit CAS (:func:`~.table.retry_on_conflict`).
    ``extra_props`` ride the same commit, as in :func:`merge_changes`."""

    def once() -> MergeResult:
        snap = table.snapshot()
        key_cols, order_cols = snap.key_cols, snap.order_cols
        ledger: dict[str, Any] = dict(snap.props.get(_LEDGER_KEY, {}))
        if batch_key is not None and batch_key in ledger:
            return MergeResult(version=snap.version, skipped=True)

        staged, evolved_fields, mapping_update = _stage_batch(df, snap)
        body = staged.select(
            *[f_.name for f_ in evolved_fields], (F.col("op") == "D").alias(DELETED_COL)
        ).filter(F.col(key_cols[0]).isNotNull())
        new_files = rewrite_buckets(
            table,
            snap,
            lww_collapse(body, key_cols, order_cols).filter(~F.col(DELETED_COL)),
            range(snap.n_buckets),
            write_salt=write_salt,
            schema=stored_schema(evolved_fields),
            props_update={
                _LEDGER_KEY: _trim_ledger(ledger, batch_key, 0, 0),
                **_mapping_props(snap, mapping_update),
                **(extra_props or {}),
            },
            lineage=[{"mode": "replace_full"}],
        )
        return MergeResult(
            version=snap.version + 1,
            keys_written=sum(f["rows"] for f in new_files),
            affected_buckets=sorted({f["bucket"] for f in new_files}),
            strategy="replace_full",
        )

    return retry_on_conflict(once, conflict_retries)


def _trim_ledger(ledger: dict, batch_key: str | None, fingerprint: int, max_commit: int) -> dict:
    """Evict OLDEST-INSERTED entries past ``_LEDGER_MAX``. The dict is
    insertion-ordered (and JSON round-trips preserve it), so the front
    of the dict is the oldest batch. Lexicographic eviction would drop
    ``bronze:10`` before ``bronze:9`` — the most recent batches, exactly
    the ones most likely to be replayed — silently re-opening the
    exactly-once window."""
    if batch_key is not None:
        # a replayed key moves to the back (most-recently-seen)
        ledger.pop(batch_key, None)
        ledger[batch_key] = {"fp": fingerprint, "max_commit_lsn": max_commit}
        while len(ledger) > _LEDGER_MAX:
            del ledger[next(iter(ledger))]
    return ledger


def _ledger_only_commit(
    table: LakeTable,
    expected_version: int,
    ledger: dict,
    batch_key: str | None,
    fp: int,
    max_commit: int,
    extra_props: dict | None = None,
) -> MergeResult:
    snap = table.commit(
        new_files=[],
        expected_version=expected_version,
        props_update={
            _LEDGER_KEY: _trim_ledger(ledger, batch_key, fp, max_commit),
            **(extra_props or {}),
        },
    )
    return MergeResult(version=snap.version)


def reconcile_backfill(
    spark: SparkSession,
    table: LakeTable,
    corrected: DataFrame,
    start,
    end,
    *,
    batch_key: str | None = None,
    write_salt: int = 1,
    conflict_retries: int = 0,
) -> MergeResult:
    """S7: parameterized date-window reconcile — the corrected feed IS
    the truth for ``ts ∈ [start, end)`` (the reference's
    ``sql/05_SDI_PROFOUND/01_BRONZE/Backfill Reconcile/
    01_sp_reconcile_backfill_profound_sov_daily.sql:39-52,176-178``:
    precondition ASSERTs, then MERGE with a window-scoped
    ``WHEN NOT MATCHED BY SOURCE … DELETE``).

    Physical replace, not LWW: a correction may carry an *older* ts than
    the wrong row it supersedes, so it must win regardless of the
    ``(ts, lsn)`` order — exactly why the reference deletes the window
    and reinserts. Scope is bucket-exact: only buckets holding window
    rows or corrected keys are rewritten; everything else is carried by
    the manifest (at 100 TB the window prunes to a few buckets when the
    feed is small; a corpus-wide correction degrades to a full rewrite,
    same as the reference's chunked backfill).

    ``conflict_retries`` re-runs the window replace against the
    refreshed snapshot on a lost commit CAS
    (:func:`~.table.retry_on_conflict`)."""
    if start >= end:
        raise ValueError(f"empty reconcile window [{start}, {end})")

    def once() -> MergeResult:
        snap = table.snapshot()
        key_cols, order_cols = snap.key_cols, snap.order_cols
        tcol = order_cols[0]
        ledger: dict[str, Any] = dict(snap.props.get(_LEDGER_KEY, {}))
        if batch_key is not None and batch_key in ledger:
            return MergeResult(version=snap.version, skipped=True)

        # Schema evolution and mapping additions follow the MERGE contract.
        staged, evolved_fields, mapping_update = _stage_batch(corrected, snap)
        mapping_props = _mapping_props(snap, mapping_update)

        # precondition ASSERT: every corrected event lies inside the window
        outside = (F.col(tcol) < F.lit(start)) | (F.col(tcol) >= F.lit(end))
        if staged.filter(outside).limit(1).count():
            raise ValueError(f"corrected feed has events outside [{start}, {end})")

        # corrected winners: collapse the feed by its own order; D winners
        # stay as tombstones (guards against pre-window stragglers).
        evolved_names = [f.name for f in evolved_fields]
        feed = staged.select(*evolved_names, (F.col("op") == "D").alias(DELETED_COL))
        new_win = lww_collapse(feed, key_cols, order_cols)
        new_win.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            # bucket scope: buckets holding corrected keys ∪ buckets with
            # files intersecting the window (manifest min/max stats prune
            # the rest)
            key_buckets = {
                int(r["_b"])
                for r in new_win.select(bucket_of(key_cols[0], snap.n_buckets).alias("_b"))
                .distinct()
                .collect()
            }
            affected = sorted(key_buckets | window_file_buckets(snap, tcol, start, end))
            if not affected:
                res = _ledger_only_commit(
                    table, snap.version, ledger, batch_key, 0, 0, extra_props=mapping_props or None
                )
                res.strategy = "reconcile"
                return res

            cur = table.read(spark, buckets=affected, include_deleted=True, physical=True)
            cur = align_to_fields(cur, evolved_fields).select(*evolved_names, DELETED_COL)
            # window rows are superseded wholesale; corrected keys win anywhere
            keep = cur.filter(outside).join(
                new_win.select(*key_cols), key_cols, "left_anti"
            )
            new_files = rewrite_buckets(
                table,
                snap,
                keep.unionByName(new_win),
                affected,
                write_salt=write_salt,
                schema=stored_schema(evolved_fields),
                props_update={_LEDGER_KEY: _trim_ledger(ledger, batch_key, 0, 0), **mapping_props},
                lineage=[{"mode": "reconcile", "window": [str(start), str(end)], "buckets": affected}],
            )
            return MergeResult(
                version=snap.version + 1,
                keys_written=sum(f["rows"] for f in new_files),
                affected_buckets=affected,
                strategy="reconcile",
            )
        finally:
            new_win.unpersist()

    return retry_on_conflict(once, conflict_retries)


def window_file_buckets(snap, tcol: str, start, end) -> set:
    """Buckets whose files may hold rows with ``tcol ∈ [start, end)``
    per the manifest min/max stats (missing stats → can't prune).
    Bounds are compared in the stats' own encoding: datetimes are
    stored isoformat (string-comparable); numeric order columns stay
    numeric — never stringify those, int < str raises in Python."""
    lo = start.isoformat() if hasattr(start, "isoformat") else start
    hi = end.isoformat() if hasattr(end, "isoformat") else end
    return {
        f["bucket"]
        for f in snap.files
        if f.get(f"min_{tcol}") is None
        or not (f[f"max_{tcol}"] < lo or f[f"min_{tcol}"] >= hi)
    }


def delete_where(
    spark: SparkSession,
    table: LakeTable,
    predicate,
    *,
    batch_key: str | None = None,
    strategy: str = "mor",
    write_salt: int = 1,
    conflict_retries: int = 0,
) -> MergeResult:
    """Row-level predicate DELETE (the GDPR / right-to-erasure shape:
    ``DELETE FROM t WHERE <predicate>``) — implemented as ordinary
    tombstone EVENTS through the merge kernel rather than a file
    rewrite, so the deletes are **changelog-visible** at their own
    event position: the CDC-out relay propagates them downstream, IVM
    marts retract the deleted contributions on their next sync,
    SCD2-style consumers see a real change, and the tombstone keeps a
    late stale event from resurrecting the key — which a physical
    sweep (``retention_truncate``) cannot. Physical reclaim of both
    the tombstones and the dead payload bytes follows via the normal
    ``compact`` → ``expire_tombstones`` → ``expire_snapshots``
    maintenance chain.

    Order synthesis: each matched LIVE winner gets a delete event at
    ``(its own ts, del_lsn)`` where ``del_lsn`` = 1 + max(lsn ever
    ingested) — from the manifest's per-file lsn stats and the
    ``max_commit_lsn`` prop, no data scan — so the tombstone beats the
    winner it deletes (same ts, higher lsn) while any LATER feed event
    (higher lsn still... or a higher ts) reinstates the key normally.
    A replay of the same ``batch_key`` is a ledger no-op; the matched
    scan prunes through the normal read path (predicate pushdown +
    stats/bloom tiers apply).

    ``predicate``: a Column or SQL string over the table's LOGICAL
    columns. Returns the underlying MERGE's result (``deletes`` =
    matched rows)."""
    snap = table.snapshot()
    lsn_col = snap.order_cols[-1]
    ts_col = snap.order_cols[0]
    max_lsn = int(snap.props.get("max_commit_lsn", 0) or 0)
    for f_ in snap.files:
        v = f_.get(f"max_{lsn_col}")
        if v is not None:
            max_lsn = max(max_lsn, int(v))
    del_lsn = max_lsn + 1

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    matched = table.read(spark).filter(pred)
    business = [f_.name for f_ in snap.schema().fields if f_.name != DELETED_COL]
    key_set = set(snap.key_cols)
    events = matched.select(
        F.lit("D").alias("op"),
        *[
            (
                F.col(snap.logical_of(c) or c)
                if c in key_set or c == ts_col
                else F.lit(None).cast(snap.schema()[c].dataType)
            ).alias(snap.logical_of(c) or c)
            for c in business
            if snap.logical_of(c) is not None or c in key_set or c in snap.order_cols
        ],
    ).withColumn(lsn_col, F.lit(del_lsn).cast("long")).withColumn(
        "commit_lsn", F.lit(del_lsn).cast("long")
    )
    return merge_changes(
        spark,
        table,
        events,
        batch_key=batch_key,
        strategy=strategy,
        write_salt=write_salt,
        conflict_retries=conflict_retries,
    )


def expire_tombstones(
    spark: SparkSession, table: LakeTable, *, older_than_lsn: int, conflict_retries: int = 0
) -> int:
    """Maintenance: rewrite buckets dropping tombstones whose order col
    is below the watermark (safe once no event older than the watermark
    can still arrive — the reference's lookback-window contract).

    Refused while a snapshot bootstrap is in flight: a tail delete's
    tombstone expired before the (sentinel-ordered, older) snapshot
    chunk for that key lands would let the chunk RESURRECT the deleted
    key — the DBLog-class hazard ``streaming/bootstrap.py`` guards by
    construction.

    ``conflict_retries``: a racing apply wins, the maintenance op
    re-reads and re-runs (:func:`~.table.retry_on_conflict`)."""

    def once() -> int:
        snap = table.snapshot()
        _refuse_during_bootstrap(snap, "expire_tombstones")
        df = table.read(spark, include_deleted=True, physical=True)
        keep = df.filter(~(F.col(DELETED_COL) & (F.col(snap.order_cols[-1]) < older_than_lsn)))
        new_files = rewrite_buckets(
            table, snap, keep, range(snap.n_buckets), props_update={"tombstone_watermark_lsn": older_than_lsn}
        )
        return sum(f["rows"] for f in new_files)

    return retry_on_conflict(once, conflict_retries)


def _refuse_during_bootstrap(snap, op: str) -> None:
    """Tombstone-destroying maintenance is unsafe while a snapshot
    bootstrap is mid-flight (see ``streaming/bootstrap.py``): an
    unapplied snapshot chunk may still hold a key whose tail delete the
    maintenance would erase, resurrecting it. Loud refusal beats silent
    wrongness; re-run after :func:`~..streaming.bootstrap.bootstrap_finish`."""
    b = snap.props.get("bootstrap")
    if b:
        raise RuntimeError(
            f"{op} refused: snapshot bootstrap in flight "
            f"({b.get('pipeline_id')}@{b.get('snapshot_lsn')}) — expiring tombstones now "
            "could resurrect keys deleted by the live tail; finish the bootstrap first"
        )


def retention_truncate(
    spark: SparkSession,
    table: LakeTable,
    older_than,
    *,
    ts_col: str | None = None,
    write_salt: int = 1,
    conflict_retries: int = 0,
) -> dict:
    """Retention sweep: drop every row with ``ts_col < older_than`` —
    the TTL/data-retention maintenance a transcript lake legally needs
    at 10^10-event scale — doing as much of it as possible by METADATA
    ALONE. Files whose ``max_{ts_col}`` stat is already below the
    cutoff are removed from the manifest without being read (the
    Iceberg metadata-delete shape: on a ``cluster_by=[ts]``-compacted
    table that is almost every expired file); only files STRADDLING the
    cutoff are read-filtered-rewritten, scoped to exactly those files,
    never whole buckets. Stats-missing files are conservatively treated
    as straddling. Null timestamps are retained (no age ⇒ no expiry),
    matching SQL predicate semantics.

    LWW-safe by construction: the sweep only removes rows with
    ``ts < cutoff``, and a removed row can only ever LOSE last-writer-
    wins against any surviving version of its key (order leads with
    ``ts``) — so no surviving key's resolution changes, and a key whose
    every version is expired disappears entirely (the intended
    retention delete). Physical bytes are reclaimed when
    ``expire_snapshots`` ages out the pre-sweep snapshots.

    The sweep is CDC-visible, as a Delta ``DELETE`` is in CDF: a key
    whose every version it removes reads as a delete in
    :meth:`~.table.LakeTable.read_changelog` (placed at the key's last
    live position), so IVM marts retract it and the relay propagates
    it. A key with a surviving version is no change. One documented
    eventual-consistency edge, standard for retention: a pre-cutoff
    event arriving AFTER the sweep re-inserts until the next sweep
    removes it (late-data horizon).

    Returns ``{"files_dropped", "files_rewritten", "rows_dropped",
    "rows_rewritten", "version"}``; metadata-only when
    ``files_rewritten == 0`` (no Spark job at all).

    ``conflict_retries``: a racing apply wins, the sweep re-reads and
    re-runs (:func:`~.table.retry_on_conflict`)."""

    def once() -> dict:
        snap = table.snapshot()
        _refuse_during_bootstrap(snap, "retention_truncate")
        tcol = (snap.physical_of(ts_col) or ts_col) if ts_col else snap.order_cols[0]
        cutoff_stat = older_than.isoformat() if hasattr(older_than, "isoformat") else older_than
        whole, straddling = [], []
        for f in snap.files:
            mx, mn = f.get(f"max_{tcol}"), f.get(f"min_{tcol}")
            if mx is not None and mx < cutoff_stat:
                whole.append(f)
            elif mn is None or mn < cutoff_stat:
                straddling.append(f)
        if not whole and not straddling:
            return {
                "files_dropped": 0, "files_rewritten": 0, "rows_dropped": 0,
                "rows_rewritten": 0, "version": snap.version,
            }
        new_files: list[dict] = []
        rewritten_rows = 0
        if straddling:
            df = spark.read.schema(snap.schema()).parquet(
                *[os.path.join(table.path, f["path"]) for f in straddling]
            )
            keep = df.filter(F.col(tcol).isNull() | (F.col(tcol) >= F.lit(older_than)))
            keep = keep.withColumn("_bucket", bucket_of(snap.key_cols[0], snap.n_buckets))
            _, new_files = table.write_data_files(keep, write_salt=write_salt)
            rewritten_rows = sum(f["rows"] for f in new_files)
        removed = [f["path"] for f in whole] + [f["path"] for f in straddling]
        out = table.commit(
            new_files=new_files,
            removed_files=removed,
            expected_version=snap.version,
        )
        dropped = (
            sum(int(f.get("rows") or 0) for f in whole)
            + sum(int(f.get("rows") or 0) for f in straddling)
            - rewritten_rows
        )
        return {
            "files_dropped": len(whole),
            "files_rewritten": len(straddling),
            "rows_dropped": dropped,
            "rows_rewritten": rewritten_rows,
            "version": out.version,
        }

    return retry_on_conflict(once, conflict_retries)
