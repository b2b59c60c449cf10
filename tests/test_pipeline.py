"""Medallion orchestration: Bronze→Silver→Gold per batch, Silver fed by
the batch, Gold recomputed for the groups Silver's changelog marks
dirty, delete propagation, crash replay, QA."""

import os

from pyspark.sql import functions as F

from digital_analytics_data_platform_spark import datagen
import pytest

from digital_analytics_data_platform_spark.lake import LakeTable
from digital_analytics_data_platform_spark.plans import MedallionPipeline
from digital_analytics_data_platform_spark.plans import pipeline as pipe_mod
from tests.conftest import TRANSCRIPT_SCHEMA, assert_marts_match_recompute, cdc_rows


def _pipe(tmp_path, **kw):
    p = MedallionPipeline(str(tmp_path / "medallion"), n_buckets=8, run_qa=False, **kw)
    p.create_tables(TRANSCRIPT_SCHEMA)
    return p


def test_medallion_end_to_end(spark, tmp_path):
    p = _pipe(tmp_path)
    n = 3_000
    log = datagen.change_log(spark, n, n_convs=30, turns_per_conv=10)
    for i in range(2):
        lo, hi = i * n // 2, (i + 1) * n // 2
        r = p.apply_batch(spark, log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)), i)
        assert r.silver is not None and r.gold_daily is not None
    bronze = p.read(spark, "bronze")
    silver = p.read(spark, "silver")
    daily = p.read(spark, "gold_daily")
    weekly = p.read(spark, "gold_weekly")
    # silver rows == bronze rows (enrichment never drops/duplicates)
    assert silver.count() == bronze.count()
    # weekly == sum(daily) == silver count — layer reconciliation
    d = daily.agg(F.sum("n_turns")).collect()[0][0]
    w = weekly.agg(F.sum("n_turns")).collect()[0][0]
    assert d == w == silver.count()


def test_medallion_replay_batch_is_noop(spark, tmp_path):
    p = _pipe(tmp_path)
    b = cdc_rows(spark, [("I", "c1", 0, "user", "hello", None, 10, 1)])
    p.apply_batch(spark, b, "x")
    v_before = {layer: p.read(spark, layer).count() for layer in ("bronze", "silver", "gold_daily")}
    r = p.apply_batch(spark, b, "x")  # same batch id → ledger no-op at every layer
    assert r.bronze.skipped
    for layer, n in v_before.items():
        assert p.read(spark, layer).count() == n


def test_medallion_delete_cascades_to_gold(spark, tmp_path):
    p = _pipe(tmp_path)
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [
                ("I", "c1", 0, "user", "hello", None, 10, 1),
                ("I", "c1", 1, "assistant", "hi", None, 20, 2),
                ("I", "c2", 0, "user", "other", None, 30, 3),
            ],
        ),
        0,
    )
    assert p.read(spark, "gold_daily").filter("conv_id = 'c1'").count() == 1
    # delete every c1 turn → silver rows gone, gold row tombstoned
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [
                ("D", "c1", 0, None, None, None, 40, 4),
                ("D", "c1", 1, None, None, None, 50, 5),
            ],
        ),
        1,
    )
    assert p.read(spark, "silver").filter("conv_id = 'c1'").count() == 0
    assert p.read(spark, "gold_daily").filter("conv_id = 'c1'").count() == 0
    assert p.read(spark, "gold_weekly").filter("conv_id = 'c1'").count() == 0
    # untouched conversation survives
    assert p.read(spark, "gold_daily").filter("conv_id = 'c2'").count() == 1


def test_medallion_long_marts_are_views_of_wide(spark, tmp_path):
    """The reference ships every mart daily/weekly × wide/long
    (sql/02_SDI_SA360/README.md:27-32), and long = unpivot of wide: the
    two wide marts are on disk, each long shape reads as gold_long of its
    persisted wide mart (a day range prunes the wide mart's files), and
    deletes cascade into the long shapes."""
    from digital_analytics_data_platform_spark.plans.transcripts import gold_long

    p = _pipe(tmp_path)
    log = datagen.change_log(spark, 2_000, n_convs=20, turns_per_conv=10)
    p.apply_batch(spark, log, 0)
    assert not os.path.exists(p._path("gold_daily_long")) and not os.path.exists(p._path("gold_weekly_long"))
    for wide, ids in pipe_mod._MARTS:
        got = p.read(spark, f"{wide}_long")
        assert set(got.columns) == {*ids, "metric_name", "metric_value"}
        exp = gold_long(LakeTable.load(p._path(wide)).read(spark), ids)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.select(*got.columns).collect())), wide
    day = p.read(spark, "gold_daily").first()["day"].isoformat()
    ranged = {"stats_range": {"day": (day, day)}}
    assert p.read(spark, "gold_daily_long", **ranged).inputFiles() == p.read(spark, "gold_daily", **ranged).inputFiles()
    # deletes cascade into the long shapes too
    conv = p.read(spark, "gold_daily").first()["conv_id"]
    turns = p.read(spark, "bronze").filter(F.col("conv_id") == conv).collect()
    tombs = cdc_rows(
        spark, [("D", conv, t["turn_idx"], None, None, None, 10**6, 10**6 + i) for i, t in enumerate(turns)]
    )
    p.apply_batch(spark, tombs, 1)
    for view in ("gold_daily_long", "gold_weekly_long"):
        assert p.read(spark, view).filter(F.col("conv_id") == conv).count() == 0, view


def test_medallion_bronze_skip_still_rebuilds_downstream(spark, tmp_path):
    """Crash-recovery hole (ADVICE r1): bronze commit succeeded, crash
    before silver/gold. The replayed batch skips bronze via the ledger
    but MUST still run the downstream merges."""
    import os
    import shutil

    p = _pipe(tmp_path)
    b0 = cdc_rows(spark, [("I", "c1", 0, "user", "hello", None, 10, 1)])
    p.apply_batch(spark, b0, 0)
    # batch 1: bronze commit lands, then "crash" — simulate by merging
    # bronze directly without the pipeline
    from digital_analytics_data_platform_spark.lake import LakeTable, merge_changes

    b1 = cdc_rows(spark, [("I", "c2", 0, "user", "second conv", None, 20, 2)])
    bronze_tbl = LakeTable.load(os.path.join(p.base_dir, "bronze"))
    merge_changes(spark, bronze_tbl, b1, batch_key="bronze:1")
    assert p.read(spark, "silver").filter("conv_id = 'c2'").count() == 0
    # recovery: replay batch 1 through the pipeline — bronze skips,
    # downstream must still materialize c2
    r = p.apply_batch(spark, b1, 1)
    assert r.bronze.skipped
    assert p.read(spark, "silver").filter("conv_id = 'c2'").count() == 1
    assert p.read(spark, "gold_daily").filter("conv_id = 'c2'").count() == 1


def test_medallion_reconcile_backfill(spark, tmp_path):
    """S7: a corrected feed replaces the window [start, end) wholesale —
    including corrections with OLDER ts than the wrong rows — and the
    downstream layers converge to the corrected state."""
    from datetime import datetime, timezone

    def _ts(s):
        return datetime.fromtimestamp(1767225600 + s, tz=timezone.utc).replace(tzinfo=None)

    p = _pipe(tmp_path)
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [
                ("I", "c1", 0, "user", "wrong text", None, 100, 1),
                ("I", "c1", 1, "assistant", "also wrong", None, 110, 2),
                ("I", "c2", 0, "user", "outside window", None, 5000, 3),
            ],
        ),
        0,
    )
    # corrected feed for [50, 1000): c1/0 fixed with an OLDER ts than the
    # wrong row; c1/1 is gone entirely (window replace must delete it)
    corrected = cdc_rows(spark, [("U", "c1", 0, "user", "right text", None, 60, 50)])
    r = p.reconcile_backfill(spark, corrected, _ts(50), _ts(1000))
    assert r.bronze.affected_buckets
    bronze = p.read(spark, "bronze")
    assert bronze.filter("conv_id = 'c1'").count() == 1
    assert bronze.filter("conv_id = 'c1'").first()["text"] == "right text"
    assert bronze.filter("conv_id = 'c2'").count() == 1  # untouched outside window
    silver = p.read(spark, "silver")
    assert silver.filter("conv_id = 'c1'").count() == 1
    assert silver.filter("conv_id = 'c1'").first()["text"] == "right text"
    # gold re-aggregated: c1 now has 1 turn
    gd = p.read(spark, "gold_daily").filter("conv_id = 'c1'").collect()
    assert len(gd) == 1 and gd[0]["n_turns"] == 1
    # replaying the same reconcile is a ledger no-op
    r2 = p.reconcile_backfill(spark, corrected, _ts(50), _ts(1000))
    assert r2.bronze.skipped


def test_register_views(spark, tmp_path):
    p = _pipe(tmp_path)
    p.apply_batch(spark, cdc_rows(spark, [("I", "c1", 0, "user", "hello", None, 10, 1)]), 0)
    views = p.register_views(spark)
    assert "vw_gold_daily_wide" not in views  # names match layer dirs
    assert "vw_bronze" in views and "vw_gold_daily_long" in views
    assert spark.sql("SELECT count(*) AS n FROM vw_bronze").collect()[0]["n"] == 1
    assert spark.sql("SELECT count(*) AS n FROM vw_gold_weekly_long").collect()[0]["n"] > 0


def test_medallion_update_reaggregates_gold(spark, tmp_path):
    p = _pipe(tmp_path)
    p.apply_batch(
        spark,
        cdc_rows(spark, [("I", "c1", 0, "user", "one two three", None, 10, 1)]),
        0,
    )
    t1 = p.read(spark, "gold_daily").collect()[0]["total_tokens"]
    p.apply_batch(
        spark,
        cdc_rows(spark, [("U", "c1", 0, "user", "one two three four five", None, 20, 2)]),
        1,
    )
    rows = p.read(spark, "gold_daily").collect()
    assert len(rows) == 1 and rows[0]["total_tokens"] == t1 + 2


def test_reconcile_removes_conversation_entirely(spark, tmp_path):
    """Code-review regression: a conversation whose every turn sits
    inside the corrected window and which the correction omits must
    vanish from Gold too: Bronze drops its rows outright, so Silver must
    tombstone them for its changelog to carry the removal to Gold."""
    from datetime import datetime, timezone

    def _ts(s):
        return datetime.fromtimestamp(1767225600 + s, tz=timezone.utc).replace(tzinfo=None)

    p = _pipe(tmp_path)
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [
                ("I", "gone", 0, "user", "spurious", None, 100, 1),
                ("I", "kept", 0, "user", "real", None, 120, 2),
                ("I", "out", 0, "user", "outside", None, 9000, 3),
            ],
        ),
        0,
    )
    assert p.read(spark, "gold_daily").filter("conv_id = 'gone'").count() == 1
    # correction for [50, 1000): only 'kept' survives; 'gone' is absent
    corrected = cdc_rows(spark, [("U", "kept", 0, "user", "real v2", None, 121, 50)])
    p.reconcile_backfill(spark, corrected, _ts(50), _ts(1000))
    for layer in ("bronze", "silver", "gold_daily", "gold_weekly", "gold_daily_long", "gold_weekly_long"):
        assert p.read(spark, layer).filter("conv_id = 'gone'").count() == 0, layer
    assert p.read(spark, "gold_daily").filter("conv_id = 'kept'").count() == 1
    assert p.read(spark, "gold_daily").filter("conv_id = 'out'").count() == 1
    assert_marts_match_recompute(spark, p)


def test_reconcile_crash_recovery_and_new_batch_key(spark, tmp_path):
    """Code-review regressions: (a) bronze-reconcile committed but crash
    before silver → replaying the pipeline reconcile still converges
    downstream; (b) a SECOND correction for the same window goes
    through with its own batch_key."""
    from datetime import datetime, timezone

    from digital_analytics_data_platform_spark.lake import LakeTable
    from digital_analytics_data_platform_spark.lake.merge import (
        reconcile_backfill as lake_reconcile,
    )

    def _ts(s):
        return datetime.fromtimestamp(1767225600 + s, tz=timezone.utc).replace(tzinfo=None)

    p = _pipe(tmp_path)
    p.apply_batch(
        spark, cdc_rows(spark, [("I", "c1", 0, "user", "wrong", None, 100, 1)]), 0
    )
    # "crash": bronze reconcile lands directly, silver/gold never ran
    corrected = cdc_rows(spark, [("U", "c1", 0, "user", "right", None, 60, 50)])
    import os

    bronze_tbl = LakeTable.load(os.path.join(p.base_dir, "bronze"))
    batch_id = f"reconcile:{_ts(50)}:{_ts(1000)}"
    lake_reconcile(spark, bronze_tbl, corrected, _ts(50), _ts(1000), batch_key=f"bronze:{batch_id}")
    assert p.read(spark, "silver").filter("text = 'right'").count() == 0
    # recovery: same-window pipeline reconcile — bronze skips via ledger,
    # downstream must still converge
    r = p.reconcile_backfill(spark, corrected, _ts(50), _ts(1000))
    assert r.bronze.skipped
    assert p.read(spark, "silver").filter("conv_id = 'c1'").first()["text"] == "right"
    assert p.read(spark, "gold_daily").filter("conv_id = 'c1'").count() == 1
    # second, different correction for the SAME window under its own key
    corrected2 = cdc_rows(spark, [("U", "c1", 0, "user", "righter", None, 61, 51)])
    r2 = p.reconcile_backfill(spark, corrected2, _ts(50), _ts(1000), batch_key="rev2")
    assert not r2.bronze.skipped
    assert p.read(spark, "bronze").filter("conv_id = 'c1'").first()["text"] == "righter"
    assert p.read(spark, "silver").filter("conv_id = 'c1'").first()["text"] == "righter"


def test_gold_rebuild_silver_read_is_bucket_pruned(spark, tmp_path, monkeypatch):
    """Every Silver read of a batch (its merge, its changelog, the gold
    recompute) prunes to the touched buckets (Silver shares Bronze's
    conv_id bucket layout); Bronze is read only by its own merge, since
    Silver is fed from the batch; every gold mart read is bucket-pruned
    (its merge, and the deletion candidates read by dirty day/week)."""
    from digital_analytics_data_platform_spark.lake.table import LakeTable

    p = _pipe(tmp_path)
    # batch 1: many conversations spread over the 8 buckets
    rows = [("I", f"conv{i}", 0, "user", f"t{i}", None, 10 + i, i + 1) for i in range(40)]
    p.apply_batch(spark, cdc_rows(spark, rows), 0)

    reads = []
    orig_read = LakeTable.read

    def recording_read(self, spark_, **kw):
        reads.append((self.path, kw.get("buckets")))
        return orig_read(self, spark_, **kw)

    monkeypatch.setattr(LakeTable, "read", recording_read)
    # batch 2 touches ONE conversation → one bucket
    r = p.apply_batch(
        spark, cdc_rows(spark, [("U", "conv0", 0, "user", "t0b", None, 99, 100)]), 1
    )
    assert len(r.bronze.affected_buckets) == 1
    silver_path = str(tmp_path / "medallion" / "silver")
    silver_reads = [b for path, b in reads if path == silver_path]
    assert silver_reads, "silver never read during rebuild"
    for buckets in silver_reads:
        assert buckets is not None, "full-silver scan in the per-batch rebuild"
        assert sorted(buckets) == r.bronze.affected_buckets
    bronze_reads = [b for path, b in reads if path == str(tmp_path / "medallion" / "bronze")]
    assert bronze_reads == [r.bronze.affected_buckets], "bronze re-read beyond its own merge"
    for mart, _ in pipe_mod._MARTS:
        mart_reads = [b for path, b in reads if path == str(tmp_path / "medallion" / mart)]
        assert mart_reads and all(b is not None for b in mart_reads), f"unpruned per-batch {mart} scan"


def test_qa_results_table_and_view(spark, tmp_path):
    """QA rows are a queryable product (the reference's *_test_results
    table + dashboard view), not loose JSON."""
    p = MedallionPipeline(str(tmp_path / "medallion"), n_buckets=8, run_qa=True)
    p.create_tables(TRANSCRIPT_SCHEMA)
    log = datagen.change_log(spark, 500, n_convs=10, turns_per_conv=5)
    p.apply_batch(spark, log, 0)
    qa = p.read(spark, "qa_results")
    rows = qa.collect()
    assert rows and all(r["status"] == "PASS" for r in rows), [
        (r["test_name"], r["status"]) for r in rows if r["status"] != "PASS"
    ]
    assert {"run_id", "test_layer", "test_name", "severity", "status"} <= set(qa.columns)
    views = p.register_views(spark)
    assert "vw_qa_results" in views
    n = spark.sql(
        "SELECT count(*) AS n FROM vw_qa_results WHERE is_critical_failure"
    ).first()["n"]
    assert n == 0
    # the dashboard rollup view (latest run per test + pass history)
    assert "vw_qa_dashboard" in views
    dash = spark.sql("SELECT * FROM vw_qa_dashboard").collect()
    assert dash and all(r["status"] == "PASS" and r["always_passed"] for r in dash)
    assert {"test_layer", "test_name", "run_id", "n_runs", "n_pass"} <= set(dash[0].asDict())
    # replaying the batch must not duplicate QA rows (ledger-keyed merge)
    before = qa.count()
    p.apply_batch(spark, log, 0)
    assert p.read(spark, "qa_results").count() == before
    # QA rows append merge-on-read; maintenance folds the delta tail
    qa_tbl = LakeTable.load(p._path("qa_results"))
    assert qa_tbl.snapshot().props.get("delta_buckets")
    p.run_maintenance(spark)
    assert not qa_tbl.snapshot().props.get("delta_buckets")
    assert sorted(map(tuple, p.read(spark, "qa_results").collect())) == sorted(map(tuple, rows))


def test_run_full_audit(spark, tmp_path):
    """The unscoped audit is a separate scheduled entry point; it passes
    after incremental batches (catches any scoping bug in per-batch QA)
    and lands in qa_results under a full_audit run id."""
    p = MedallionPipeline(str(tmp_path / "medallion"), n_buckets=8, run_qa=True)
    p.create_tables(TRANSCRIPT_SCHEMA)
    n = 2_000
    log = datagen.change_log(spark, n, n_convs=20, turns_per_conv=8)
    for i in range(2):
        lo, hi = i * n // 2, (i + 1) * n // 2
        p.apply_batch(spark, log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)), i)
    results = p.run_full_audit(spark)
    assert results and all(r["status"] == "PASS" for r in results), [
        (r["test_name"], r["status"]) for r in results if r["status"] != "PASS"
    ]
    audits = p.read(spark, "qa_results").filter("run_id LIKE 'full_audit:%'")
    assert audits.count() == len(results)
    # QA rows have one sink, the table: no loose per-run files
    assert not os.path.exists(os.path.join(p.base_dir, "qa"))


def test_submit_pipeline_cli_replay_and_resume(spark, tmp_path, monkeypatch):
    """The spark-submit entrypoint: tails a feed directory through the
    checkpointed medallion apply, and a re-run with the same checkpoint
    is a clean no-op (resume semantics) while a new segment is picked
    up incrementally."""
    import importlib
    import sys
    from pathlib import Path

    from digital_analytics_data_platform_spark.streaming.source import write_log_segments

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    submit = importlib.import_module("submit_pipeline")

    # the CLI builds its own session when --local-cores is given; reuse
    # the test session instead so the suite stays one-JVM
    import digital_analytics_data_platform_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)

    log = datagen.change_log(spark, 2000, n_convs=20, turns_per_conv=5)
    feed = str(tmp_path / "feed")
    write_log_segments(log, feed, n_segments=2)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")

    args = [
        "--feed-dir", feed, "--lake-dir", lake, "--checkpoint-dir", ckpt,
        "--mode", "medallion", "--strategy", "mor", "--n-buckets", "8",
        "--local-cores", "8",
    ]
    out1 = submit.main(args)
    assert out1["batches"] >= 1 and out1["events"] > 0

    from digital_analytics_data_platform_spark.lake import LakeTable

    rows_after_first = LakeTable.load(f"{lake}/bronze").read(spark).count()
    assert rows_after_first > 0

    # resume with nothing new: no batches applied, state unchanged
    out2 = submit.main(args)
    assert out2["events"] == 0
    assert LakeTable.load(f"{lake}/bronze").read(spark).count() == rows_after_first

    # a NEW segment arrives → only it is applied
    late = cdc_rows(spark, [("I", "brand_new_conv", 0, "user", "hello", None, 10**7, 10**7)])
    write_log_segments(late, feed, n_segments=1)
    out3 = submit.main(args)
    assert out3["events"] >= 1
    assert (
        LakeTable.load(f"{lake}/bronze").read(spark).filter("conv_id = 'brand_new_conv'").count()
        == 1
    )


def test_apply_batch_leaves_no_cached_frames(spark, tmp_path):
    """The dirty-group and daily/weekly persists must all be released
    when apply_batch returns — a long-running streaming driver would
    otherwise leak block-manager entries every batch."""
    baseline = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    p = _pipe(tmp_path)
    for i in range(2):
        p.apply_batch(
            spark, cdc_rows(spark, [("I", "c1", i, "user", f"t{i}", None, 10 + i, i + 1)]), i
        )
    # delete a turn so the gold tombstone path runs too
    p.apply_batch(spark, cdc_rows(spark, [("D", "c1", 1, None, None, None, 30, 3)]), 2)
    leaked = spark.sparkContext._jsc.sc().getPersistentRDDs().size() - baseline
    assert leaked <= 0, f"{leaked} cached RDDs leaked by apply_batch"


def test_full_audit_every_n_batches(spark, tmp_path):
    """full_audit_every=2 → the O(table) audit fires on every second
    applied batch (the reference's scheduled-QA cadence as a batch-count
    schedule), and its rows land in MedallionResult.full_audit."""
    p = _pipe(tmp_path, full_audit_every=2)
    results = []
    for i in range(4):
        r = p.apply_batch(
            spark, cdc_rows(spark, [("I", f"c{i}", 0, "user", f"t{i}", None, 10 + i, i + 1)]), i
        )
        results.append(r.full_audit)
    assert results[0] is None and results[2] is None
    assert results[1] and results[3]
    assert all(row["status"] == "PASS" for row in results[1] + results[3])


def test_ledger_trim_past_capacity_stays_correct(spark, tmp_path, monkeypatch):
    """_LEDGER_MAX is a shared per-table cap and the medallion writes
    several ledger keys per batch to some tables (VERDICT r3 ask #7).
    Past capacity: (a) a RECENT batch replay must still take the free
    fast path (all downstream ledgers hold it); (b) a TRIMMED batch
    replay must read as not-applied and converge idempotently to the
    same state (LWW protects), never corrupt it."""
    from digital_analytics_data_platform_spark.lake import LakeTable
    from digital_analytics_data_platform_spark.lake import merge as merge_mod

    monkeypatch.setattr(merge_mod, "_LEDGER_MAX", 4)
    p = _pipe(tmp_path)
    batches = []
    for i in range(6):
        b = cdc_rows(
            spark,
            [("I", f"c{i}", t, "user", f"m{i}-{t}", None, 10 * i + t, i * 10 + t) for t in range(3)],
        )
        batches.append(b)
        p.apply_batch(spark, b, i)

    bronze_ledger = (
        LakeTable.load(p._path("bronze")).snapshot().props.get(merge_mod._LEDGER_KEY, {})
    )
    assert len(bronze_ledger) <= 4
    assert "bronze:0" not in bronze_ledger  # oldest-first eviction
    assert "bronze:5" in bronze_ledger

    def state():
        return sorted(
            map(tuple, p.read(spark, "silver").select("conv_id", "turn_idx", "text").collect())
        )

    before = state()
    assert len(before) == 18

    # (a) recent replay: bronze no-op AND downstream fast path (no
    # silver/gold merges at all — the common at-least-once redelivery)
    r5 = p.apply_batch(spark, batches[5], 5)
    assert r5.bronze.skipped and r5.silver is None

    # (b) trimmed replay: entry evicted → re-merge (not skipped), LWW
    # makes it a value-level no-op; downstream rebuild is idempotent
    r0 = p.apply_batch(spark, batches[0], 0)
    assert not r0.bronze.skipped
    assert state() == before


def test_submit_pipeline_publish_tag_gate(spark, tmp_path, monkeypatch):
    """--publish-tag runs the WAP gate after the feed drains: a clean
    audit advances the consumer tag on every pipeline table."""
    import importlib
    import sys
    from pathlib import Path

    from digital_analytics_data_platform_spark.streaming.source import write_log_segments

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    submit = importlib.import_module("submit_pipeline")

    import digital_analytics_data_platform_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)

    log = datagen.change_log(spark, 1000, n_convs=10, turns_per_conv=5)
    feed = str(tmp_path / "feed")
    write_log_segments(log, feed, n_segments=1)
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")

    out = submit.main([
        "--feed-dir", feed, "--lake-dir", lake, "--checkpoint-dir", ckpt,
        "--mode", "medallion", "--strategy", "mor", "--n-buckets", "8",
        "--local-cores", "8", "--publish-tag", "published",
    ])
    assert out["published"] is True and out["publish_tag"] == "published"

    from digital_analytics_data_platform_spark.lake import LakeTable

    for layer in ("bronze", "silver", "gold_daily"):
        tbl = LakeTable.load(f"{lake}/{layer}")
        assert "published" in tbl.tags()
        assert tbl.read(spark, tag="published").count() == tbl.read(spark).count()


def test_gold_day_moving_delete_and_update_tombstone_old_day(spark, tmp_path):
    """A delete's ts is payload (LWW keeps the delete's values) and an
    update may move a turn to another day, so the old day appears in no
    surviving row — only in Silver's before-image. Its rows must still
    be tombstoned in both marts and their long views."""
    p = _pipe(tmp_path)
    day = 86400
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [
                ("I", "c1", 0, "user", "hello", None, 10, 1),
                ("I", "c2", 0, "user", "a question?", None, 20, 2),
                ("I", "c2", 1, "assistant", "an answer", None, 30, 3),
            ],
        ),
        0,
    )
    # both events land 10 days (and so another QGP week) later
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [
                ("D", "c1", 0, None, None, None, 10 * day, 4),
                ("U", "c2", 0, "user", "a question?", None, 10 * day + 5, 5),
            ],
        ),
        1,
    )
    for mart in ("gold_daily", "gold_weekly", "gold_daily_long", "gold_weekly_long"):
        assert p.read(spark, mart).filter("conv_id = 'c1'").count() == 0, mart
    daily = sorted((str(r["day"]), r["n_turns"]) for r in p.read(spark, "gold_daily").filter("conv_id = 'c2'").collect())
    assert daily == [("2026-01-01", 1), ("2026-01-11", 1)]
    assert_marts_match_recompute(spark, p)


def test_gold_crash_after_each_mart_merge_converges(spark, tmp_path, monkeypatch):
    """A crash after either mart merge leaves a later mart's cursor
    behind Silver's head (a crash after the last leaves none): the replay must not take the
    fast path while a cursor lags, and must converge. After the first
    crash, run_maintenance with keep_snapshots=1 must keep every Silver
    snapshot from the lowest mart cursor on, or the replay's changelog
    read would fail."""
    p = _pipe(tmp_path)
    p.apply_batch(
        spark,
        cdc_rows(
            spark,
            [("I", "c1", 0, "user", "hello", None, 10, 1), ("I", "c1", 1, "assistant", "hi", None, 20, 2)],
        ),
        0,
    )
    real_merge = pipe_mod.merge_changes
    crash_after = {"key": None}

    def crashing_merge(spark_, table, changes, **kw):
        res = real_merge(spark_, table, changes, **kw)
        if kw.get("batch_key") == crash_after["key"]:
            raise RuntimeError(f"simulated crash after {crash_after['key']}")
        return res

    monkeypatch.setattr(pipe_mod, "merge_changes", crashing_merge)
    silver = LakeTable.load(p._path("silver"))
    marts = [name for name, _ in pipe_mod._MARTS]
    for i, mart in enumerate(marts, start=1):
        # a day-moving update, so every crash leaves a gold row to move
        batch = cdc_rows(spark, [("U", "c1", 1, "assistant", f"edit {i}", None, 20 + i * 86400, 2 + i)])
        crash_after["key"] = f"{mart}:{i}"
        with pytest.raises(RuntimeError):
            p.apply_batch(spark, batch, i)
        crash_after["key"] = None
        head = silver.snapshot().version
        floor = min(p._cursors().values())
        lagging = mart != marts[-1]
        assert (floor < head) == lagging
        assert p._downstream_applied(i) != lagging
        if i == 1:
            p.run_maintenance(spark, keep_snapshots=1)
            assert set(range(floor, head + 1)) <= set(silver.list_snapshots())
        r = p.apply_batch(spark, batch, i)
        assert r.bronze.skipped and (r.silver is not None) == lagging
        assert set(p._cursors().values()) == {silver.snapshot().version}
    assert_marts_match_recompute(spark, p)


def test_apply_batch_is_five_merges_with_silver_fed_by_the_batch(spark, tmp_path, monkeypatch):
    """Silver consumes the batch itself, not the touched Bronze buckets
    (its events_in is the batch's event count on a populated table), and
    one batch commits exactly one merge per table: bronze, silver, the
    two persisted marts and qa (the long marts are views)."""
    p = MedallionPipeline(str(tmp_path / "medallion"), n_buckets=8, run_qa=True)
    p.create_tables(TRANSCRIPT_SCHEMA)
    seed = [("I", f"c{i}", t, "user", f"m{i}-{t}", None, 10 * i + t, 10 * i + t + 1) for i in range(8) for t in range(4)]
    p.apply_batch(spark, cdc_rows(spark, seed), 0)
    calls = []
    real_merge = pipe_mod.merge_changes

    def counting_merge(spark_, table, changes, **kw):
        calls.append(kw["batch_key"].split(":", 1)[0])
        return real_merge(spark_, table, changes, **kw)

    monkeypatch.setattr(pipe_mod, "merge_changes", counting_merge)
    batch = [("U", f"c{i}", 0, "user", f"edit {i}", None, 500 + i, 500 + i) for i in range(3)]
    r = p.apply_batch(spark, cdc_rows(spark, batch), 1)
    assert r.silver.events_in == len(batch)
    assert calls == ["bronze", "silver", "gold_daily", "gold_weekly", "qa"]
    assert all(row["status"] == "PASS" for row in r.qa)


def test_lake_from_before_mart_cursors_upgrades(spark, tmp_path):
    """A lake written before marts carried a Silver cursor: its marts have
    no cursor prop, Silver's early snapshots may be expired, and it may
    hold persisted gold_*_long tables. The next batch rebuilds both marts
    in full from Silver instead of reading a changelog from version 0;
    the stale long directories never shadow the long views, and
    maintenance, publishing and rollback leave them alone; later
    batches take the changelog path again."""
    import dataclasses
    import shutil

    p = MedallionPipeline(str(tmp_path / "medallion"), n_buckets=8, run_qa=True)
    p.create_tables(TRANSCRIPT_SCHEMA)
    p.apply_batch(spark, cdc_rows(spark, [
        ("I", "c1", 0, "user", "hello", None, 10, 1),
        ("I", "c1", 1, "assistant", "hi", None, 20, 2),
        ("I", "c2", 0, "user", "other", None, 30, 3),
    ]), 0)
    for name, _ in pipe_mod._MARTS:
        tbl = LakeTable.load(p._path(name))
        snap = tbl.snapshot()
        props = {k: v for k, v in snap.props.items() if k != pipe_mod._CURSOR_PROP}
        tbl._write_snapshot(dataclasses.replace(
            snap, version=snap.version + 1, parent=snap.version, props=props, committed_at=None
        ))
        # an older lake's persisted long mart; a wide copy is easy to spot
        shutil.copytree(p._path(name), p._path(f"{name}_long"))
    assert set(p._cursors().values()) == {None}
    planted = {name: LakeTable.load(p._path(f"{name}_long")) for name, _ in pipe_mod._MARTS}
    planted_versions = {name: t.list_snapshots() for name, t in planted.items()}
    p.run_maintenance(spark, keep_snapshots=1)
    assert {name: t.list_snapshots() for name, t in planted.items()} == planted_versions
    silver = LakeTable.load(p._path("silver"))
    assert 0 not in silver.list_snapshots()

    r = p.apply_batch(spark, cdc_rows(spark, [
        ("D", "c1", 1, None, None, None, 40, 4),
        ("I", "c3", 0, "user", "new", None, 50, 5),
    ]), 1)
    assert r.gold_daily.strategy == r.gold_weekly.strategy == "replace_full"
    assert set(p._cursors().values()) == {silver.snapshot().version}
    assert r.qa and all(row["status"] == "PASS" for row in r.qa)
    assert_marts_match_recompute(spark, p)
    long_cols = {"day", "conv_id", "metric_name", "metric_value"}
    assert set(p.read(spark, "gold_daily_long").columns) == long_cols
    assert "vw_gold_weekly_long" in p.register_views(spark)
    assert set(spark.table("vw_gold_daily_long").columns) == long_cols

    r = p.apply_batch(spark, cdc_rows(spark, [("U", "c2", 0, "user", "edited", None, 60, 6)]), 2)
    assert r.gold_daily.strategy == "cow" and r.gold_weekly.strategy == "cow"
    assert_marts_match_recompute(spark, p)

    assert p.audit_and_publish(spark)["published"]
    assert p.rollback_to_tag()
    for name, t in planted.items():
        assert t.tags() == {} and t.list_snapshots() == planted_versions[name]
