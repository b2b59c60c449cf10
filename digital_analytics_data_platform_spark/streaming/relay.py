"""Lake → wire CDC-out relay: publish a table's incremental changelog
as JSON change envelopes a downstream binlog-style consumer can tail.

This closes the loop on the CDC story: the engine ingests Debezium /
wal2json / Maxwell / Canal feeds (``cdc_json_stream``) AND can emit the
same formats from its own commit history (``LakeTable.read_changelog``),
so a second lake — or any off-the-shelf CDC consumer — can mirror a
table without rescanning it. The reference's outbound surface is a
BigQuery→Dataflow export job (``README.md:269-275``); here it is a
manifest-diff read re-encoded on the wire, O(delta) not O(table).

Delivery contract: **at-least-once emission, exactly-once effect**.
The cursor file is advanced only *after* the segment files are
published, so a crash between the two re-emits the last window; every
row carries its change's ``(ts, lsn)``, so any LWW upsert consumer
(e.g. this engine's own ``apply_stream``) converges to the same state
regardless of replays — the same idempotence argument as the inbound
path. The changelog is exact across physical rewrites, so rows a
reconcile, a retention truncation or a rollback drops ride as deletes.
Two limits of LWW consumers remain: a rewrite that moves a key back to
an older version (a rollback over an update, a reconcile correction
with an older ``ts``) rides at that older position, which an LWW
consumer ignores, so such a consumer must apply the feed in arrival
order (one envelope per key per window — the Debezium sink contract);
and deletes ride only while their tombstones are retained.
"""
from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable

CURSOR_FILE = "_relay_cursor.json"


@dataclass
class RelayResult:
    since_version: int
    until_version: int
    rows: int = 0
    segments: list[str] = field(default_factory=list)

    @property
    def skipped(self) -> bool:
        return self.until_version == self.since_version


def _codec_module(codec: str):
    from ..sources import canal, debezium, maxwell, wal2json

    codecs = {
        "debezium": debezium,
        "maxwell": maxwell,
        "canal": canal,
        "wal2json": wal2json,
    }
    if codec not in codecs:
        raise ValueError(f"unknown wire codec {codec!r}; choose from {sorted(codecs)}")
    return codecs[codec]


def _read_cursor(out_dir: str) -> int:
    p = os.path.join(out_dir, CURSOR_FILE)
    if not os.path.exists(p):
        return 0
    with open(p) as f:
        return int(json.load(f)["version"])


def relay_cursor(out_dir: str) -> int:
    """The relay's durable position: the last source snapshot version it
    has fully encoded (0 before the first tick). Expose this to
    snapshot expiry as a retention floor —
    ``apply_stream(expire_protect=[lambda: relay_cursor(out_dir)])`` —
    so a lagging relay's next ``read_changelog(since_version=cursor)``
    can never lose its manifest to aggressive ``expire_keep_last``."""
    return _read_cursor(out_dir)


def _write_cursor(out_dir: str, version: int) -> None:
    p = os.path.join(out_dir, CURSOR_FILE)
    tmp = p + f".tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, p)  # atomic on POSIX


def relay_changes(
    spark: SparkSession,
    table: LakeTable,
    out_dir: str,
    *,
    codec: str = "debezium",
    lsn_col: str = "lsn",
    n_segments: int = 1,
    images: bool = False,
) -> RelayResult:
    """One relay tick: encode the table's changes since the cursor as
    ``codec`` envelopes and publish them as ``.jsonl`` segments under
    ``out_dir``, then advance the cursor. Run it on a schedule (or after
    each apply) for a continuous mirror; each tick is one
    :meth:`LakeTable.read_changelog` read, O(delta).

    Every change rides with its row image (the after-image, or the
    before-image for a delete) at its event position, the changelog's
    flat order columns: a delete's tombstone, or the before-image for a
    row a rewrite dropped without one. No-op rewrites (compaction,
    clustering, rescale) relay nothing. The window's ``until_version``
    rides as the transaction id (``txId``/``xid``/``id`` per codec),
    giving consumers a commit-window handle; row ordering authority
    stays with ``(ts, lsn)`` exactly as on the inbound wire.

    ``images`` chooses only the envelope: ``False`` sends update/delete
    ops; ``True`` sends true insert/update/delete ops and puts the
    pre-update image in the codec's before slot (Debezium ``before``,
    Maxwell/Canal ``old``, wal2json ``identity``).

    Returns a :class:`RelayResult`; ``skipped`` is true when the table
    has no commits past the cursor (nothing is written).
    """
    mod = _codec_module(codec)
    os.makedirs(out_dir, exist_ok=True)
    since = _read_cursor(out_dir)
    until = table.snapshot().version
    if until <= since:
        return RelayResult(since, since)

    clog = table.read_changelog(spark, since_version=since, until_version=until)
    all_cols = [f.name for f in clog.schema["after"].dataType.fields]
    row_cols = [c for c in all_cols if c != lsn_col]
    img, before = F.coalesce(F.col("after"), F.col("before")), F.col("before")
    kind = F.col("_change_type")
    if images:
        op = F.when(kind == "insert", F.lit("I")).when(kind == "delete", F.lit("D")).otherwise(F.lit("U"))
    else:
        op = F.when(kind == "delete", F.lit("D")).otherwise(F.lit("U"))
    changes = clog.select(
        # key and event-position (order) columns are the changelog's flat ones
        *[(F.col(c) if c in clog.columns else img[c]).alias(c) for c in all_cols],
        op.alias("_op"),
        F.when(before.isNotNull(), F.struct(*[before[c].alias(c) for c in row_cols])).alias("_before"),
        F.lit(until).cast("long").alias("_commit"),
    )
    wire = mod.encode_envelopes(
        changes,
        row_cols,
        op_col="_op",
        lsn_col=lsn_col,
        commit_lsn_col="_commit",
        before_col="_before" if images else None,
    )

    staging = os.path.join(out_dir, f"_staging_{uuid.uuid4().hex}")
    wire.coalesce(max(1, n_segments)).write.mode("overwrite").text(staging)
    parts = sorted(glob.glob(os.path.join(staging, "part-*")))
    segments = []
    for i, part in enumerate(parts):
        # flat files with ordered names + strictly increasing mtimes, so
        # a downstream FileStreamSource consumes windows in commit order
        seg = os.path.join(out_dir, f"cdc_v{since:09d}_v{until:09d}_{i:04d}.jsonl")
        shutil.move(part, seg)
        segments.append(seg)
    shutil.rmtree(staging, ignore_errors=True)
    base_t = time.time() - len(segments)
    for j, seg in enumerate(segments):
        os.utime(seg, (base_t + j, base_t + j))
    # distributed count over the just-written segments (O(delta)),
    # doubling as a readability check on what was published
    rows = spark.read.text(segments).count() if segments else 0
    _write_cursor(out_dir, until)
    return RelayResult(since, until, rows=rows, segments=segments)
