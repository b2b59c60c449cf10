"""SCD Type-2 semantics on handcrafted change logs: chain bounds,
tombstones closing versions, re-insert gaps, duplicate / out-of-order /
replayed delivery convergence, Type-1 equivalence of the current view,
mid-stream schema evolution, and layout-only compaction."""

import random

from pyspark.sql import functions as F

from digital_analytics_data_platform_spark.lake import LakeTable, merge_changes
from digital_analytics_data_platform_spark.operators.scd2 import Scd2Table, scd2_from_log
from tests.conftest import TRANSCRIPT_SCHEMA, cdc_rows


KEYS = ["conv_id", "turn_idx"]
ORDER = ["ts", "lsn"]


def chains(df):
    """{(conv, turn): [(version_num, text, valid_to_is_open)]} sorted by version."""
    out = {}
    for r in df.collect():
        out.setdefault((r["conv_id"], r["turn_idx"]), []).append(
            (r["version_num"], r["text"], r["valid_to"] is None, r["is_current"])
        )
    for v in out.values():
        v.sort()
    return out


LOG = [
    # conv c1 turn 0: insert, two updates -> 3 versions, last current
    ("I", "c1", 0, "user", "v1", None, 10, 1),
    ("U", "c1", 0, "user", "v2", None, 20, 2),
    ("U", "c1", 0, "user", "v3", None, 30, 3),
    # conv c2 turn 0: insert then delete -> 1 closed version, no current
    ("I", "c2", 0, "user", "gone", None, 10, 4),
    ("D", "c2", 0, None, None, None, 40, 5),
    # conv c3 turn 1: insert, delete, re-insert -> gap between versions
    ("I", "c3", 1, "user", "first life", None, 10, 6),
    ("D", "c3", 1, None, None, None, 20, 7),
    ("I", "c3", 1, "user", "second life", None, 50, 8),
]


def test_scd2_from_log_chain_semantics(spark):
    hist = scd2_from_log(cdc_rows(spark, LOG), KEYS, ORDER)
    got = chains(hist)
    assert got[("c1", 0)] == [(1, "v1", False, False), (2, "v2", False, False), (3, "v3", True, True)]
    # delete closes the chain: one version, closed, not current
    assert got[("c2", 0)] == [(1, "gone", False, False)]
    # re-insert after delete: v1 closed at the DELETE ts, v2 open
    assert got[("c3", 1)] == [(1, "first life", False, False), (2, "second life", True, True)]
    row = {r["text"]: r for r in hist.filter(F.col("conv_id") == "c3").collect()}
    assert row["first life"]["valid_to"] == cdc_rows(spark, [LOG[6]]).collect()[0]["ts"]


def test_scd2_from_log_duplicate_and_out_of_order_delivery(spark):
    """Shuffled + duplicated delivery of the same events -> identical history."""
    rng = random.Random(7)
    noisy = LOG * 2 + [LOG[i] for i in range(len(LOG))]
    rng.shuffle(noisy)
    a = scd2_from_log(cdc_rows(spark, LOG), KEYS, ORDER)
    b = scd2_from_log(cdc_rows(spark, noisy), KEYS, ORDER)
    assert chains(a) == chains(b)
    assert a.count() == b.count()


def _scd2(tmp_path, name="hist"):
    return Scd2Table.create(
        str(tmp_path / name),
        TRANSCRIPT_SCHEMA,
        KEYS,
        ORDER,
        n_buckets=8,
    )


def test_incremental_replay_equivalence(spark, tmp_path):
    """Random batching + duplicate batch replay + out-of-order batches
    converge to the batch recompute from the full log."""
    rng = random.Random(13)
    events = list(LOG)
    rng.shuffle(events)
    t = _scd2(tmp_path)
    t.apply_batch(spark, cdc_rows(spark, events[:3]), batch_key="b1")
    t.apply_batch(spark, cdc_rows(spark, events[3:6]), batch_key="b2")
    # duplicate replay of b1 under a NEW key (past-ledger replay):
    # state must still converge via read-time dedupe
    t.apply_batch(spark, cdc_rows(spark, events[:3]), batch_key="b1-replayed")
    # ledger fast-path: same key skipped without a commit
    v = t.table.snapshot().version
    t.apply_batch(spark, cdc_rows(spark, events[3:6]), batch_key="b2")
    assert t.table.snapshot().version == v
    t.apply_batch(spark, cdc_rows(spark, events[6:]), batch_key="b3")

    expect = scd2_from_log(cdc_rows(spark, LOG), KEYS, ORDER)
    assert chains(t.history(spark)) == chains(expect)


def test_current_matches_type1_merge(spark, tmp_path):
    """The SCD2 current view equals the Type-1 MERGE kernel's state on
    the same feed (per-turn text equality under stable key order)."""
    t = _scd2(tmp_path)
    t.apply_batch(spark, cdc_rows(spark, LOG), batch_key="all")
    type1 = LakeTable.create(
        str(tmp_path / "type1"), TRANSCRIPT_SCHEMA, KEYS, ORDER, n_buckets=8
    )
    merge_changes(spark, type1, cdc_rows(spark, LOG), batch_key="all")
    cur = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in t.current(spark).collect()
    }
    t1 = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in type1.read(spark).collect()
    }
    assert cur == t1


def test_as_of_point_in_time(spark, tmp_path):
    t = _scd2(tmp_path)
    t.apply_batch(spark, cdc_rows(spark, LOG), batch_key="all")
    base = cdc_rows(spark, [LOG[0]]).collect()[0]["ts"]  # ts offset 10

    # at ts=10s: first versions everywhere that exist
    snap10 = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.as_of(spark, base).collect()
    }
    assert snap10 == {("c1", 0): "v1", ("c2", 0): "gone", ("c3", 1): "first life"}
    # at ts=45s: c1 at v3, c2 deleted, c3 in its delete/re-insert gap
    import datetime

    snap45 = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.as_of(spark, base + datetime.timedelta(seconds=35)).collect()
    }
    assert snap45 == {("c1", 0): "v3"}


def test_schema_evolution_mid_stream(spark, tmp_path):
    """A new payload column (score) appearing mid-stream is promoted;
    earlier versions read it as NULL."""
    t = _scd2(tmp_path)
    t.apply_batch(spark, cdc_rows(spark, LOG[:3]), batch_key="b1")
    late = cdc_rows(spark, [("U", "c1", 0, "user", "v4", None, 60, 9)]).withColumn(
        "score", F.lit(0.9)
    )
    t.apply_batch(spark, late, batch_key="b2")
    hist = t.history(spark).filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 0))
    rows = {r["version_num"]: r for r in hist.collect()}
    assert rows[4]["score"] == 0.9 and rows[4]["is_current"]
    assert rows[1]["score"] is None and rows[3]["valid_to"] is not None


def test_compact_preserves_history_and_shrinks_files(spark, tmp_path):
    t = _scd2(tmp_path)
    for i, ev in enumerate(LOG):
        t.apply_batch(spark, cdc_rows(spark, [ev]), batch_key=f"b{i}")
    before = chains(t.history(spark))
    nfiles_before = len(t.table.snapshot().files)
    t.compact(spark)
    assert chains(t.history(spark)) == before
    assert len(t.table.snapshot().files) < nfiles_before


def test_history_read_is_bucket_pruned(spark, tmp_path):
    """Reading one conversation's history touches only its bucket."""
    t = _scd2(tmp_path)
    t.apply_batch(spark, cdc_rows(spark, LOG), batch_key="all")
    snap = t.table.snapshot()
    b = [
        r["b"]
        for r in spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit("c1")), F.lit(snap.n_buckets)).cast("int").alias("b"))
        .collect()
    ][0]
    pruned = t.history(spark, buckets=[b]).filter(F.col("conv_id") == "c1")
    assert chains(pruned)[("c1", 0)] == chains(t.history(spark))[("c1", 0)]
    # the pruned read plans over strictly fewer files
    all_files = {f["path"] for f in snap.files}
    kept = {f["path"] for f in snap.files if f["bucket"] == b}
    assert kept and kept != all_files


def test_scd2_type_widening_mid_stream(spark, tmp_path):
    """A payload column widening mid-stream (int→long) promotes the
    history table schema; earlier event files upcast at read."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("score", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("lsn", T.LongType()),
        ]
    )
    t = Scd2Table.create(str(tmp_path / "w"), schema, KEYS, ORDER, n_buckets=4)
    import datetime

    base = datetime.datetime(2026, 1, 1)
    narrow = spark.createDataFrame(
        [("I", "c1", 0, 5, base, 1)],
        "op string, conv_id string, turn_idx int, score int, ts timestamp, lsn long",
    )
    wide = spark.createDataFrame(
        [("U", "c1", 0, 2**40, base + datetime.timedelta(seconds=10), 2)],
        "op string, conv_id string, turn_idx int, score long, ts timestamp, lsn long",
    )
    t.apply_batch(spark, narrow, batch_key="b1")
    t.apply_batch(spark, wide, batch_key="b2")
    hist = {r["version_num"]: r["score"] for r in t.history(spark).collect()}
    assert hist == {1: 5, 2: 2**40}
    assert t.table.snapshot().schema()["score"].dataType.simpleString() == "bigint"


def test_streaming_dual_sink_history(spark, tmp_path):
    """One checkpointed stream maintains BOTH the Type-1 table and the
    SCD2 history (history_path dual sink); resume applies only new
    segments to both; the history equals the batch recompute of the
    full log and current() equals the Type-1 state."""
    from pyspark.sql import functions as F

    from digital_analytics_data_platform_spark import datagen
    from digital_analytics_data_platform_spark.streaming.runner import apply_stream
    from digital_analytics_data_platform_spark.streaming.source import (
        cdc_file_stream,
        write_log_segments,
    )

    n = 4000
    full_log = datagen.change_log(spark, n * 2, n_convs=60, turns_per_conv=10)
    first = full_log.filter(F.col("lsn") < n)
    second = full_log.filter(F.col("lsn") >= n)
    log_dir = str(tmp_path / "cdclog")
    write_log_segments(first, log_dir, n_segments=3)

    tbl = LakeTable.create(
        str(tmp_path / "state"), TRANSCRIPT_SCHEMA, KEYS, ORDER, n_buckets=8
    )
    hist_path = str(tmp_path / "history")
    ckpt = str(tmp_path / "ckpt")

    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    apply_stream(spark, src, tbl.path, ckpt, pipeline_id="b", history_path=hist_path)
    write_log_segments(second, log_dir, n_segments=2)
    src2 = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    apply_stream(spark, src2, tbl.path, ckpt, pipeline_id="b", history_path=hist_path)

    t = Scd2Table.load(hist_path)
    # history == batch recompute of the full log (keys with only garbage
    # rows never reach either sink; merge quarantines, scd2 drops)
    valid = full_log.filter(
        F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
        & (F.col("turn_idx") >= 0)
        & F.col("ts").isNotNull()
        & F.col("lsn").isNotNull()
    )
    expect = scd2_from_log(
        valid.select("op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"),
        KEYS,
        ORDER,
    )
    hist = t.history(spark)
    assert chains(hist) == chains(expect)
    # current() == Type-1 state
    cur = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t.current(spark).collect()}
    t1 = {(r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read(spark).collect()}
    assert cur == t1 and len(t1) > 0


def test_apply_batch_without_op_column_defaults_to_upsert(spark, tmp_path):
    """A batch with no op column is all upserts: the table's own op
    column must not reach the batch as NULL first and quarantine every
    row as garbage."""
    import os

    t = _scd2(tmp_path)
    batch = cdc_rows(spark, [("I", "c1", 0, "user", "hello", None, 10, 1)]).drop("op", "commit_lsn")
    t.apply_batch(spark, batch, batch_key="b1")
    assert t.history(spark).count() == 1
    assert not os.path.exists(t.table.quarantine_path())
