"""Structured Streaming apply: availableNow replay over log segments,
checkpoint resume, exactly-once across restarts, batch metrics."""

import time

from pyspark.sql import functions as F

from digital_analytics_data_platform_spark import datagen
from digital_analytics_data_platform_spark.streaming import (
    apply_stream,
    cdc_file_stream,
    write_log_segments,
)
from digital_analytics_data_platform_spark.streaming.runner import metrics_df
from tests.conftest import assert_state_equal, oracle_state


def test_streaming_replay_and_resume(spark, make_table, tmp_path):
    n = 6_000
    full_log = datagen.change_log(spark, n * 2, n_convs=80, turns_per_conv=10)
    first, second = full_log.filter(F.col("lsn") < n), full_log.filter(F.col("lsn") >= n)
    log_dir = str(tmp_path / "cdclog")
    segs = write_log_segments(first, log_dir, n_segments=6)
    assert len(segs) == 6

    tbl = make_table()
    ckpt = str(tmp_path / "ckpt")

    # phase 1: consume everything available, one segment per micro-batch
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m1 = apply_stream(spark, src, tbl.path, ckpt, pipeline_id="bronze")
    assert m1.batches >= 6
    assert m1.events == first.count()

    # phase 2: two more segments arrive; SAME checkpoint resumes, old
    # segments are not reprocessed
    extra = write_log_segments(second, log_dir, n_segments=2)
    assert len(extra) == 2
    src2 = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m2 = apply_stream(spark, src2, tbl.path, ckpt, pipeline_id="bronze")
    assert m2.events == second.count()  # only the new segments
    assert m1.events + m2.events == n * 2  # full log consumed exactly once

    got = tbl.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    assert_state_equal(got, oracle_state(full_log.toPandas()))

    # phase 3: restart once more with nothing new → zero batches applied
    src3 = cdc_file_stream(spark, log_dir)
    _, m3 = apply_stream(spark, src3, tbl.path, ckpt, pipeline_id="bronze")
    assert m3.events == 0

    metrics = metrics_df(spark, tbl.path, "bronze").agg(
        F.count(F.lit(1)).alias("batches"),
        F.sum("events_in").alias("events_in"),
        F.count("affected_buckets").alias("with_buckets"),
    ).first()
    assert metrics["batches"] == metrics["with_buckets"] == m1.batches + m2.batches + m3.batches
    assert metrics["events_in"] == n * 2


def test_streaming_crash_replay_is_noop(spark, make_table, tmp_path):
    """Simulate crash-after-table-commit-before-checkpoint: reapplying
    the same batchId through the ledger leaves state unchanged."""
    from digital_analytics_data_platform_spark.lake import merge_changes

    n = 2_000
    log = datagen.change_log(spark, n, n_convs=30, turns_per_conv=8)
    tbl = make_table()
    r1 = merge_changes(spark, tbl, log, batch_key="bronze:0")
    assert not r1.skipped
    v_before = tbl.snapshot().version
    r2 = merge_changes(spark, tbl, log, batch_key="bronze:0")  # replayed batchId
    assert r2.skipped and tbl.snapshot().version == v_before


def test_stateful_conversation_progress(spark, tmp_path):
    """applyInPandasWithState keyed state accumulates across
    micro-batches (custom stateful streaming operator)."""
    from digital_analytics_data_platform_spark.streaming.stateful import (
        conversation_progress,
    )

    log = datagen.change_log(spark, 2_000, n_convs=20, turns_per_conv=10, garbage_frac=0.0)
    log_dir = str(tmp_path / "log")
    write_log_segments(log, log_dir, n_segments=4)
    stream = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    q = (
        conversation_progress(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # A processing-time state timeout makes Spark plan a no-data batch
    # after every batch, so this availableNow query never terminates on
    # its own (and processAllAvailable never returns). The first no-data
    # batch follows the last data batch: then every segment is applied.
    deadline = time.monotonic() + 120
    try:
        while not any(p["numInputRows"] == 0 for p in q.recentProgress):
            assert time.monotonic() < deadline, "stream never drained its segments"
            time.sleep(0.2)
    finally:
        q.stop()
    out = spark.sql(
        "SELECT conv_id, max(n_events) AS n FROM conv_progress GROUP BY conv_id"
    ).toPandas()
    exp = log.groupBy("conv_id").count().toPandas()
    exp = exp[exp["conv_id"].notna()]
    merged = out.merge(exp, on="conv_id")
    assert len(merged) == len(exp)
    # state accumulated across the 4 single-file micro-batches
    assert (merged["n"] == merged["count"]).all()


def test_streaming_watermark_window(spark, tmp_path):
    """§2.9 watermark semantics, native: a tumbling event-time window
    with withWatermark drops events later than the lateness bound from
    the live aggregate (they still reach the tables via the MERGE
    lookback path — the reference's 60d/7d re-MERGE discipline,
    …01_merge_sdi_bronze_sa360_campaign_daily.sql:27)."""
    import datetime as dt

    from digital_analytics_data_platform_spark.streaming.source import cdc_schema
    from digital_analytics_data_platform_spark.streaming.windows import (
        run_windowed_rollup_to_memory,
    )

    base = dt.datetime(2026, 1, 1, 10, 0, 0)

    def ev(lsn, off_s, conv="c1"):
        return ("U", conv, int(lsn), "user", "t", None, base + dt.timedelta(seconds=off_s), lsn, 0)

    # Four segments → four micro-batches. The late event arrives TWO
    # batches after the watermark-advancing events because Spark filters
    # late input with the previous batch's watermark (eviction uses the
    # current one).
    rows = [ev(i, i) for i in range(5)]  # window [10:00,10:01): 5 events
    rows += [ev(10, 600), ev(11, 601)]  # 10:10 → advances watermark past 10:01
    rows += [ev(12, 602), ev(15, 630)]  # filler batch: filter-watermark catches up
    rows += [ev(20, 40)]  # LATE for [10:00,10:01) — watermark ≈10:08 by now
    df = spark.createDataFrame(rows, cdc_schema())
    log_dir = str(tmp_path / "wmlog")
    segs = write_log_segments(df, log_dir, n_segments=4)
    assert len(segs) == 4

    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    q = run_windowed_rollup_to_memory(
        spark,
        src,
        checkpoint_dir=str(tmp_path / "wmckpt"),
        window="1 minute",
        lateness="2 minutes",
        group_cols=("role",),
    )
    q.awaitTermination(180)
    out = spark.table("windowed_rollup").collect()
    w1 = [r for r in out if r["window_start"] == base]
    # the closed window emitted exactly once, late event NOT counted
    assert len(w1) == 1
    assert w1[0]["n_events"] == 5 and w1[0]["role"] == "user"
    # the 10:10 window never closed (watermark stops 2min behind max ts)
    assert all(r["window_start"] == base for r in out)


def test_stream_events_rollup_matches_batch(spark):
    """The oracle-bearing streaming entry: availableNow file-stream over
    the shared events table emits exactly the watermark-closed windows,
    which for a single-batch stream equals the batch GROUP BY restricted
    to windows ending ≤ max(ts) − lateness."""
    import os

    import pytest

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf_dir}/events.parquet"):
        pytest.skip("driver testdata not present")
    from digital_analytics_data_platform_spark.queries import q_stream_events_rollup

    got = {tuple(r) for r in q_stream_events_rollup(spark, sf_dir).collect()}

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 45 MINUTES")).alias("w")
    ).collect()[0]["w"]
    exp = {
        tuple(r)
        for r in (
            ev.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.pmod("event_id", F.lit(97))).alias("checksum"),
            )
            .filter(F.col("window.end") <= F.lit(wm))
            .select(
                # the query stringifies its window bounds (tz-aware vs
                # DuckDB-naive representation fix) — mirror that here
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
                F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
                "event_type",
                "n_events",
                "checksum",
            )
            .collect()
        )
    }
    assert got == exp and len(got) > 0


def test_json_wire_stream_applies_identically(spark, tmp_path):
    """Raw-wire-format tail: the same change log, landed once as parquet
    segments and once as Debezium JSON envelope files, streamed through
    the foreachBatch apply, yields identical table state."""
    import os

    from digital_analytics_data_platform_spark.lake import LakeTable
    from digital_analytics_data_platform_spark.sources.debezium import encode_envelopes
    from digital_analytics_data_platform_spark.streaming.runner import apply_stream
    from digital_analytics_data_platform_spark.streaming.source import cdc_json_stream
    from tests.conftest import TRANSCRIPT_SCHEMA

    log = datagen.change_log(spark, 3000, n_convs=30, turns_per_conv=10)
    row_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    # land the wire form: newline-delimited JSON envelope files
    wire_dir = str(tmp_path / "wire")
    os.makedirs(wire_dir)
    encode_envelopes(log, row_cols, ts_ms_col="lsn").coalesce(2).write.mode("overwrite").text(
        str(tmp_path / "wire_stage")
    )
    import glob
    import shutil

    for i, p in enumerate(sorted(glob.glob(str(tmp_path / "wire_stage" / "part-*")))):
        shutil.move(p, os.path.join(wire_dir, f"seg_{i:04d}.jsonl"))

    # parquet-segment path (the landed form)
    pq_dir = str(tmp_path / "pq")
    write_log_segments(log, pq_dir, n_segments=2)

    t_wire = LakeTable.create(
        str(tmp_path / "t_wire"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"]
    )
    t_pq = LakeTable.create(
        str(tmp_path / "t_pq"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"]
    )
    src_wire = cdc_json_stream(spark, wire_dir)
    _, m1 = apply_stream(
        spark, src_wire, str(tmp_path / "t_wire"), str(tmp_path / "ck_wire"), pipeline_id="wire"
    )
    src_pq = cdc_file_stream(spark, pq_dir)
    _, m2 = apply_stream(
        spark, src_pq, str(tmp_path / "t_pq"), str(tmp_path / "ck_pq"), pipeline_id="pq"
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
    a = sorted(tuple(r) for r in t_wire.read(spark).select(*cols).collect())
    b = sorted(tuple(r) for r in t_pq.read(spark).select(*cols).collect())
    assert a == b and len(a) > 0
    assert m1.events > 0


def test_lineage_and_metrics_dataframes(spark, make_table, tmp_path):
    """The north rule's per-partition lineage + metrics TABLES: both
    observability surfaces are queryable DataFrames whose aggregates
    reconcile exactly against the feed and against each other."""
    from digital_analytics_data_platform_spark.streaming.runner import metrics_df

    n = 4_000
    log = datagen.change_log(spark, n, n_convs=60, turns_per_conv=8)
    log_dir = str(tmp_path / "cdclog")
    write_log_segments(log, log_dir, n_segments=4)
    tbl = make_table()
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m = apply_stream(spark, src, tbl.path, str(tmp_path / "ckpt"), pipeline_id="bronze")

    mdf = metrics_df(spark, tbl.path, "bronze")
    agg = mdf.agg(
        F.sum("events_in").alias("ev"),
        F.count("*").alias("batches"),
        F.sum("inserts").alias("ins"),
        F.sum("deletes").alias("dels"),
    ).collect()[0]
    assert agg["ev"] == n and agg["batches"] == m.batches
    assert agg["ins"] == m.inserts and agg["dels"] == m.deletes

    ldf = tbl.lineage_df(spark)
    # lineage and metrics tell the same story, partition-resolved
    lagg = ldf.agg(
        F.sum("inserts").alias("ins"),
        F.sum("deletes").alias("dels"),
        F.countDistinct("bucket").alias("buckets"),
        F.countDistinct("batch_key").alias("batch_keys"),
    ).collect()[0]
    assert lagg["ins"] == m.inserts and lagg["dels"] == m.deletes
    assert 1 <= lagg["buckets"] <= tbl.snapshot().n_buckets
    assert lagg["batch_keys"] == m.batches
    # per-partition resolution: every lineage row names a real commit
    versions = {r["version"] for r in ldf.select("version").distinct().collect()}
    assert versions <= set(tbl.list_snapshots())


def test_wal2json_wire_stream_applies_identically(spark, tmp_path):
    """The codec-selectable wire tail (`cdc_json_stream(codec=...)`):
    the same log landed as wal2json v2 envelope files streams through
    the foreachBatch apply to the identical state as the parquet path
    (envelope-level hex LSN carrying the ordering)."""
    import glob
    import os
    import shutil

    from digital_analytics_data_platform_spark.lake import LakeTable
    from digital_analytics_data_platform_spark.sources.wal2json import encode_envelopes
    from digital_analytics_data_platform_spark.streaming.runner import apply_stream
    from digital_analytics_data_platform_spark.streaming.source import cdc_json_stream
    from tests.conftest import TRANSCRIPT_SCHEMA

    log = datagen.change_log(spark, 3000, n_convs=30, turns_per_conv=10)
    row_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    wire_dir = str(tmp_path / "wire")
    os.makedirs(wire_dir)
    encode_envelopes(log, row_cols).coalesce(2).write.mode("overwrite").text(
        str(tmp_path / "wire_stage")
    )
    for i, p in enumerate(sorted(glob.glob(str(tmp_path / "wire_stage" / "part-*")))):
        shutil.move(p, os.path.join(wire_dir, f"seg_{i:04d}.jsonl"))

    pq_dir = str(tmp_path / "pq")
    write_log_segments(log, pq_dir, n_segments=2)

    t_wire = LakeTable.create(
        str(tmp_path / "t_wire"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"]
    )
    t_pq = LakeTable.create(
        str(tmp_path / "t_pq"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"]
    )
    _, m1 = apply_stream(
        spark,
        cdc_json_stream(spark, wire_dir, codec="wal2json"),
        t_wire.path,
        str(tmp_path / "ck_wire"),
        pipeline_id="wire",
    )
    _, m2 = apply_stream(
        spark, cdc_file_stream(spark, pq_dir), t_pq.path, str(tmp_path / "ck_pq"), pipeline_id="pq"
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
    a = sorted(tuple(r) for r in t_wire.read(spark).select(*cols).collect())
    b = sorted(tuple(r) for r in t_pq.read(spark).select(*cols).collect())
    assert a == b and len(a) > 0 and m1.events == m2.events

    import pytest

    with pytest.raises(ValueError):
        cdc_json_stream(spark, wire_dir, codec="nope")


def test_streaming_periodic_compact_clusters(spark, make_table, tmp_path):
    """compact_every + compact_cluster_by: the live tail's periodic
    compaction range-clusters on ts, so per-file ts spans narrow and a
    stats_range window read prunes files — no separate maintenance job."""
    log = datagen.change_log(spark, 4_000, n_convs=60, turns_per_conv=10, garbage_frac=0.0)
    log_dir = str(tmp_path / "log")
    write_log_segments(log, log_dir, n_segments=2)
    tbl = make_table(n_buckets=2)
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m = apply_stream(
        spark,
        src,
        tbl.path,
        str(tmp_path / "ckpt"),
        pipeline_id="bronze",
        strategy="mor",
        compact_every=2,
        compact_cluster_by=["ts"],
        write_salt=4,
    )
    assert m.batches == 2  # compaction fired on the final batch
    snap = tbl.snapshot()
    assert len(snap.files) > snap.n_buckets  # range slivers, not 1 file/bucket
    lo = min(f["min_ts"] for f in snap.files)
    hi = max(f["max_ts"] for f in snap.files)
    assert any(f["min_ts"] > lo or f["max_ts"] < hi for f in snap.files)
    # pruned window read stays correct
    mid = sorted(f["min_ts"] for f in snap.files)[len(snap.files) // 2]
    pruned = tbl.read(spark, stats_range={"ts": (lo, mid)})
    assert len(pruned.inputFiles()) < len(snap.files)
    got = pruned.filter((F.col("ts") >= lo) & (F.col("ts") <= mid)).count()
    full = tbl.read(spark).filter((F.col("ts") >= lo) & (F.col("ts") <= mid)).count()
    assert got == full > 0


def test_adaptive_compaction_folds_only_hot_buckets(spark, make_table, tmp_path, monkeypatch):
    """compact_tail_files_over: a bucket is folded exactly when its MOR
    delta tail reaches the threshold, and ONLY that bucket is rewritten
    — a Zipf-hot conversation's bucket compacts twice in six batches
    while every cold bucket is never touched (read amplification
    bounded per bucket, compaction I/O proportional to churn)."""
    import digital_analytics_data_platform_spark.streaming.runner as runner_mod
    from digital_analytics_data_platform_spark.lake.table import bucket_of
    from tests.conftest import cdc_rows

    tbl = make_table(n_buckets=32)
    # pick cold conversations landing in pairwise-distinct buckets that
    # all differ from the hot conversation's bucket
    cands = ["hotconv"] + [f"cold{i}" for i in range(40)]
    bk = {
        r["conv_id"]: r["b"]
        for r in spark.createDataFrame([(c,) for c in cands], "conv_id string")
        .select("conv_id", bucket_of("conv_id", 32).alias("b"))
        .collect()
    }
    hot_b = bk["hotconv"]
    colds, seen = [], {hot_b}
    for c in cands[1:]:
        if bk[c] not in seen:
            colds.append(c)
            seen.add(bk[c])
        if len(colds) == 6:
            break

    rows = []
    for i, cold in enumerate(colds):
        rows.append(("I", "hotconv", i, "user", f"h{i}", None, 100 + i, i * 10))
        rows.append(("I", cold, 0, "user", "c", None, 100 + i, i * 10 + 1))
    log_dir = str(tmp_path / "cdclog")
    from digital_analytics_data_platform_spark.streaming import (
        apply_stream,
        cdc_file_stream,
        write_log_segments,
    )

    segs = write_log_segments(cdc_rows(spark, rows), log_dir, n_segments=6)
    assert len(segs) == 6

    calls = []
    real_compact = runner_mod.compact

    def recording_compact(spark_, table_, **kw):
        calls.append(sorted(kw.get("buckets") or []))
        return real_compact(spark_, table_, **kw)

    monkeypatch.setattr(runner_mod, "compact", recording_compact)
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m = apply_stream(
        spark, src, tbl.path, str(tmp_path / "ckpt"), pipeline_id="bronze",
        strategy="mor", compact_tail_files_over=3,
    )
    assert m.batches == 6
    # hot bucket tail: 1,2,3→fold, 1,2,3→fold — exactly two triggers,
    # each scoped to the hot bucket alone
    assert m.adaptive_compactions == 2
    assert calls == [[hot_b], [hot_b]]
    # every bucket's residual tail is under the threshold
    tail = tbl.snapshot().props.get("delta_buckets", {})
    assert all(int(n) < 3 for n in tail.values())
    assert int(tail.get(str(hot_b), 0)) == 0  # just folded at batch 6
    # state intact: 6 hot turns + 6 cold convs
    got = {(r["conv_id"], r["turn_idx"]) for r in tbl.read(spark).collect()}
    assert got == {("hotconv", i) for i in range(6)} | {(c, 0) for c in colds}


def test_stream_rolling_retention_trims_old_eras(spark, make_table, tmp_path):
    """retention_every + retention_age_seconds: the live tail enforces a
    rolling event-time TTL — each sweep's cutoff is (newest ts stat −
    age), so by end-of-stream exactly the eras older than the age
    survive, and the drop counts reconcile."""
    import pytest

    from digital_analytics_data_platform_spark.streaming import (
        apply_stream,
        cdc_file_stream,
        write_log_segments,
    )
    from tests.conftest import cdc_rows

    rows = []
    for era in range(6):
        for j in range(20):
            rows.append(
                ("I", f"c{era}_{j}", 0, "user", f"t{era}", None, era * 1000 + j, era * 10 + j // 2)
            )
    log_dir = str(tmp_path / "cdclog")
    write_log_segments(cdc_rows(spark, rows), log_dir, n_segments=6)

    tbl = make_table()
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m = apply_stream(
        spark, src, tbl.path, str(tmp_path / "ckpt"), pipeline_id="bronze",
        strategy="mor", retention_every=2, retention_age_seconds=2500,
    )
    assert m.batches == 6
    # sweeps at batches 2 (cutoff < 0: no-op), 4 (drops era 0), 6
    # (drops eras 1+2); eras 3-5 are inside the age window
    assert m.retention_rows_dropped == 60
    got = {r["conv_id"] for r in tbl.read(spark).collect()}
    assert got == {f"c{era}_{j}" for era in (3, 4, 5) for j in range(20)}

    # refusing the silent-mart-drift combination
    from digital_analytics_data_platform_spark.plans.ivm import IncrementalRollup

    roll = IncrementalRollup.create(str(tmp_path / "mart"), tbl, ["role"], [], n_buckets=4)
    with pytest.raises(ValueError, match="retention_every"):
        apply_stream(
            spark, src, tbl.path, str(tmp_path / "ckpt2"), pipeline_id="b2",
            rollups=[roll], retention_every=2, retention_age_seconds=10,
        )
