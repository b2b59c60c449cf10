"""Initial-snapshot bootstrap for a new CDC pipeline — the DBLog /
Debezium-incremental-snapshot surface.

A freshly deployed CDC pipeline faces a source table that already holds
rows: the binlog tail only carries changes from now on, so the existing
rows must be loaded once ("initial snapshot") *without stalling the live
tail* and *without racing it incorrectly*. DBLog (Andreadis & Gruener,
Netflix, 2019) and Debezium's incremental snapshots solve the race with
low/high watermark windows written into the log around every chunk read,
deduplicating chunk rows against change events captured inside the
window — necessary because their output is an ordered event stream that
arbitrary consumers replay blindly.

This engine's sink is a last-writer-wins merge kernel
(:func:`~..lake.merge.merge_changes`), which makes the watermark dance
unnecessary: snapshot rows are emitted as ordinary upsert events whose
LWW order is chosen so that **every tailed change event beats every
snapshot row for the same key**. Chunk-vs-log races then commute
through the kernel — apply order cannot matter, which is exactly the
property the watermarks exist to recover. Two modes:

- ``versioned`` — the source exposes each row's last-modified order
  (``ts``/``lsn`` columns present in the snapshot): rows are emitted
  with their true order and plain LWW is exact under *any* overlap
  between snapshot and tail (replaying pre-snapshot events is
  harmless).
- unversioned (default) — the source exposes only row payloads: rows
  are emitted with their business ``ts`` and a **sentinel lsn** of −1.
  Exactness argument: let the snapshot be consistent as of log
  position P, and let the tail deliver only events with ``lsn >= P``
  (enforced by a pushed-down filter). For a key whose prefix-LWW
  winner is ``(ts_w, lsn_w)`` with ``lsn_w < P``, the snapshot row
  carries ``(ts_w, -1)`` and the same payload; against any tail event
  ``(ts_e, lsn_e >= P)``: ``ts_e > ts_w`` and ``ts_e < ts_w`` order
  identically to the true comparison, and a ``ts`` tie resolves to the
  tail event in both (``lsn_e >= P > lsn_w > -1``). So the final table
  equals applying the *entire* change history through the kernel.

**The one thing NO snapshot can carry is tombstone history**: a key
deleted before P is simply *absent* from the snapshot, and absence has
no LWW order. If a tail event for that key is OLDER in LWW order than
the prefix delete (possible only when event time runs backwards across
the snapshot point — e.g. ``ts`` jitter larger than the snapshot's
age), the full-history truth keeps the key deleted but the bootstrap
resurrects it. Exactness therefore needs ONE of:

- **bounded disorder**: no tail event is older (in LWW order) than a
  prefix delete of the same key — guaranteed by picking P at least one
  out-of-order window behind the tail start, the same bounded-disorder
  assumption the engine's watermarking and future-``ts`` guard already
  make for streaming correctness; or
- **a tombstone-carrying snapshot** (:func:`lake_snapshot_changes`,
  for lake-to-lake migration or any source exporting deletion
  markers): deletes ship as ``op='D'`` events with their true order,
  and plain LWW is exact under *arbitrary* disorder and overlap.

Independent of either condition, chunk-vs-tail **interleaving** never
changes the result (LWW commutes) — disorder decides what the
converged state is, never whether the interleave converges to it.

Chunking: the snapshot is applied in ``chunks`` ledger-keyed MERGE
batches, each covering a contiguous range of the target table's hash
buckets — so every chunk MERGE is bucket-aligned (O(chunk) MOR append,
no table-wide work) and a crash resumes by ledger skip (batch key
``bootstrap:{pipeline_id}:{snapshot_lsn}:{chunk}``). Chunks interleave
with the live tail through optimistic concurrency: both writers go
through the snapshot-version CAS, the loser re-runs
(:class:`~..lake.table.CommitConflict` + retries).

Hazard handled by construction: **tombstone expiry / retention during
bootstrap can resurrect deleted keys** — a tail delete's tombstone
physically removed before the (older) snapshot chunk for that key
lands would let the sentinel row win. While the ``bootstrap`` table
prop is set, :func:`~..lake.merge.expire_tombstones` and
:func:`~..lake.merge.retention_truncate` refuse loudly; the prop is
cleared atomically when the last chunk commits.

Reference parity note: the reference has no snapshot/stream
coordination at all — its backfill procedures (e.g. ``sql/02_SDI_SA360/
01_BRONZE/Backfill/00_backfill_bronze_sa360_campaign_daily.sql``)
re-run the same MERGE over date chunks while scheduled incremental
MERGEs stay live, relying on BigQuery MERGE atomicity per statement;
this module is the same "chunked backfill racing the incremental
apply" shape promoted to CDC-correct semantics.
"""

from __future__ import annotations

import math
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.merge import MergeResult, merge_changes
from ..lake.table import LakeTable, bucket_of, retry_on_conflict

BOOTSTRAP_PROP = "bootstrap"
SENTINEL_LSN = -1


def snapshot_to_changes(
    snapshot_df: DataFrame,
    *,
    versioned: bool = False,
    snapshot_lsn: int = 0,
    order_cols: tuple[str, str] = ("ts", "lsn"),
) -> DataFrame:
    """Shape source-snapshot rows as upsert change events for the merge
    kernel. ``versioned``: the frame already carries true per-row order
    columns — pass through. Unversioned: ``lsn`` is set to the −1
    sentinel (loses every tie against real events); ``ts`` must be
    present and non-null (it is the leading LWW order column — a
    source without any timestamp should supply a constant epoch).
    ``commit_lsn`` records the snapshot consistency point P on every
    row (lineage: "this row is source state as of P")."""
    ts_col, lsn_col = order_cols
    df = snapshot_df
    if "op" not in df.columns:
        df = df.withColumn("op", F.lit("U"))
    if versioned:
        if lsn_col not in df.columns or ts_col not in df.columns:
            raise ValueError(f"versioned snapshot must carry {order_cols} columns")
    else:
        if ts_col not in df.columns:
            raise ValueError(
                f"unversioned snapshot must carry a {ts_col!r} column (constant epoch is fine)"
            )
        df = df.withColumn(lsn_col, F.lit(SENTINEL_LSN).cast("long"))
    if "commit_lsn" not in df.columns:
        df = df.withColumn("commit_lsn", F.lit(int(snapshot_lsn)).cast("long"))
    return df


def lake_snapshot_changes(spark: SparkSession, src_table: LakeTable) -> DataFrame:
    """Tombstone-carrying snapshot of an engine lake table — the
    lake-to-lake migration source. Live rows become ``op='U'`` and
    retained tombstones become ``op='D'`` events, all with their TRUE
    (``ts``, ``lsn``) order, so a ``versioned=True`` bootstrap from
    this frame is exact under arbitrary event-time disorder and
    arbitrary snapshot/tail overlap (plain LWW over a union of true
    versions). This is the mode that sidesteps the tombstone-history
    loss documented above — use it whenever the source can export
    deletion markers (an engine table always can, until
    :func:`~..lake.merge.expire_tombstones` trims them; bootstrap
    before the expiry watermark passes the snapshot point)."""
    from ..lake.table import DELETED_COL

    df = src_table.read(spark, include_deleted=True)
    return df.withColumn(
        "op", F.when(F.col(DELETED_COL), F.lit("D")).otherwise(F.lit("U"))
    ).drop(DELETED_COL)


def _chunk_bounds(n_buckets: int, chunks: int, i: int) -> tuple[int, int]:
    step = math.ceil(n_buckets / chunks)
    return i * step, min((i + 1) * step, n_buckets)


def bootstrap_begin(
    table: LakeTable,
    *,
    snapshot_lsn: int,
    chunks: int,
    versioned: bool,
    pipeline_id: str = "bronze",
    conflict_retries: int = 10,
) -> dict:
    """Mark the table as mid-bootstrap (props-only commit, OCC-retried).
    Idempotent: a matching active marker (same pipeline/snapshot point)
    is a resume; a *different* active bootstrap is refused — one
    snapshot load per table at a time keeps the resurrect-guard
    reasoning simple."""
    marker = {
        "pipeline_id": pipeline_id,
        "snapshot_lsn": int(snapshot_lsn),
        "chunks": int(chunks),
        "versioned": bool(versioned),
    }

    def once() -> dict:
        snap = table.snapshot()
        cur = snap.props.get(BOOTSTRAP_PROP)
        if cur:
            if (cur.get("pipeline_id"), cur.get("snapshot_lsn")) == (
                pipeline_id,
                int(snapshot_lsn),
            ):
                return dict(cur)  # resume
            raise RuntimeError(
                f"table {table.path} already mid-bootstrap for "
                f"{cur.get('pipeline_id')}@{cur.get('snapshot_lsn')}; finish or abandon it first"
            )
        table.commit(
            new_files=[],
            expected_version=snap.version,
            props_update={BOOTSTRAP_PROP: marker},
            lineage=[{"mode": "bootstrap_begin", **marker}],
        )
        return marker

    return retry_on_conflict(once, conflict_retries)


def bootstrap_finish(
    table: LakeTable, *, pipeline_id: str = "bronze", conflict_retries: int = 10
) -> None:
    """Clear the bootstrap marker (props-only commit). No-op if already
    cleared; refuses to clear another pipeline's marker."""

    def once() -> None:
        snap = table.snapshot()
        cur = snap.props.get(BOOTSTRAP_PROP)
        if not cur:
            return
        if cur.get("pipeline_id") != pipeline_id:
            raise RuntimeError(
                f"bootstrap marker on {table.path} belongs to {cur.get('pipeline_id')!r}"
            )
        table.commit(
            new_files=[],
            expected_version=snap.version,
            props_update={BOOTSTRAP_PROP: None},
            lineage=[{"mode": "bootstrap_finish", "pipeline_id": pipeline_id}],
        )

    retry_on_conflict(once, conflict_retries)


def apply_snapshot_chunks(
    spark: SparkSession,
    table: LakeTable,
    snapshot_df: DataFrame,
    *,
    snapshot_lsn: int,
    chunks: int | None = None,
    versioned: bool = False,
    pipeline_id: str = "bronze",
    strategy: str = "mor",
    write_salt: int = 1,
    conflict_retries: int = 20,
    finish: bool = True,
    on_chunk: Callable[[int, MergeResult], None] | None = None,
) -> list[MergeResult]:
    """Apply the source snapshot in bucket-aligned, ledger-keyed chunks.

    Each chunk selects the keys whose target hash bucket falls in a
    contiguous range (``chunks`` <= table buckets ⇒ a chunk touches
    exactly ``n_buckets/chunks`` buckets; the MOR append then writes
    only those buckets). Null-key rows route to chunk 0 where the
    merge's normal quarantine path records them. A crash mid-loop
    resumes for free: applied chunks are skipped by the merge ledger
    (key ``bootstrap:{pipeline_id}:{snapshot_lsn}:{i}``). With
    ``finish`` (default) the bootstrap marker is cleared atomically
    after the last chunk — leaving the tombstone-expiry/retention guard
    active for exactly the window where a late chunk could resurrect a
    tail-deleted key."""
    snap = table.snapshot()
    n_buckets = snap.n_buckets
    chunks = chunks or min(16, n_buckets)
    if chunks > n_buckets:
        chunks = n_buckets
    bootstrap_begin(
        table,
        snapshot_lsn=snapshot_lsn,
        chunks=chunks,
        versioned=versioned,
        pipeline_id=pipeline_id,
    )
    changes = snapshot_to_changes(
        snapshot_df,
        versioned=versioned,
        snapshot_lsn=snapshot_lsn,
        order_cols=tuple(snap.order_cols),
    )
    bucket = F.coalesce(bucket_of(snap.key_cols[0], n_buckets), F.lit(0))
    results: list[MergeResult] = []
    for i in range(chunks):
        lo, hi = _chunk_bounds(n_buckets, chunks, i)
        if lo >= n_buckets:
            break
        chunk = changes.filter((bucket >= lo) & (bucket < hi))
        res = merge_changes(
            spark,
            table,
            chunk,
            batch_key=f"bootstrap:{pipeline_id}:{int(snapshot_lsn)}:{i}",
            strategy=strategy,
            write_salt=write_salt,
            conflict_retries=conflict_retries,
        )
        results.append(res)
        if on_chunk:
            on_chunk(i, res)
    if finish:
        bootstrap_finish(table, pipeline_id=pipeline_id)
    return results


def bootstrap_stream(
    spark: SparkSession,
    snapshot_df: DataFrame,
    source: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    *,
    snapshot_lsn: int,
    chunks: int | None = None,
    versioned: bool = False,
    pipeline_id: str = "bronze",
    strategy: str = "mor",
    write_salt: int = 1,
    conflict_retries: int = 20,
    chunk_pause_s: float = 0.0,
    **apply_stream_kwargs,
):
    """Initial snapshot load interleaved with the live binlog tail — the
    end-to-end DBLog shape. Starts the normal checkpointed
    :func:`~.runner.apply_stream` on ``source`` (non-blocking), applies
    the snapshot chunks from the driver thread while micro-batches keep
    landing (both writers race through the version CAS and retry), then
    clears the bootstrap marker and awaits the stream.

    Unversioned mode additionally filters the tail to ``order_col >=
    snapshot_lsn`` (pushed-down codegen filter), where ``order_col`` is
    the table's last order column (``lsn`` for the default
    ``["ts", "lsn"]`` order) — the sentinel-order exactness argument
    needs no tail event older than the snapshot consistency point; a
    versioned snapshot tolerates arbitrary overlap, so the tail passes
    through unfiltered.

    An optional SCD2 history sink (``history_path=…`` passthrough)
    records only TAILED events: snapshot chunks are state, not history
    — the Type-2 chain legitimately begins at the bootstrap point,
    exactly like enabling CDC on a pre-existing source table.

    Returns ``(query, metrics, chunk_results)``."""
    from .runner import apply_stream

    table = LakeTable.load(table_path)
    t_start = time.monotonic()
    # the tail filter binds to the TABLE's commit-order column, not a
    # literal 'lsn' — apply_snapshot_chunks parameterizes order_cols
    # from the snapshot the same way, and a table whose last order
    # column has another name would otherwise break (AnalysisException
    # or, worse, an unfiltered tail violating the unversioned-exactness
    # precondition).
    order_col = table.snapshot().order_cols[-1]
    tail = source if versioned else source.filter(F.col(order_col) >= F.lit(int(snapshot_lsn)))
    query, metrics = apply_stream(
        spark,
        tail,
        table_path,
        checkpoint_dir,
        pipeline_id=pipeline_id,
        strategy=strategy,
        write_salt=write_salt,
        conflict_retries=conflict_retries,
        await_termination=False,
        **apply_stream_kwargs,
    )
    try:
        chunk_results = apply_snapshot_chunks(
            spark,
            table,
            snapshot_df,
            snapshot_lsn=snapshot_lsn,
            chunks=chunks,
            versioned=versioned,
            pipeline_id=pipeline_id,
            strategy=strategy,
            write_salt=write_salt,
            conflict_retries=conflict_retries,
            finish=True,
            on_chunk=(lambda i, r: time.sleep(chunk_pause_s)) if chunk_pause_s else None,
        )
    except BaseException:
        query.stop()
        raise
    query.awaitTermination()
    metrics.wall_s = time.monotonic() - t_start
    return query, metrics, chunk_results
