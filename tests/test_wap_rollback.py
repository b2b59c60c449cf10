"""Snapshot rollback (Iceberg ``rollback_to_snapshot`` analog) and the
write-audit-publish gate on snapshot tags: consumers read the
``published`` tag, the audit moves it, rollback is the recovery arm.

Reference parity: the reference gates gold refreshes on its QA suite
(``sql/02_SDI_SA360/01_BRONZE/tests/01_sp_bronze_campaign_daily_
critical.sql`` aborts the load on critical failure); WAP re-expresses
that abort as tag-isolation + history-preserving rollback."""

from datetime import datetime

import pytest

from digital_analytics_data_platform_spark.lake import merge_changes
from digital_analytics_data_platform_spark.plans import MedallionPipeline
from tests.conftest import TRANSCRIPT_SCHEMA, assert_marts_match_recompute, cdc_rows
from tests.test_merge_semantics import state


def test_rollback_restores_state_and_reopens_ledger(spark, make_table):
    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "hello", None, 10, 1)]), batch_key="b1"
    )
    v1 = tbl.snapshot().version
    s1 = state(spark, tbl)
    b2 = cdc_rows(
        spark,
        [
            ("U", "c1", 0, "user", "bad update", None, 20, 2),
            ("I", "c2", 0, "user", "noise", None, 30, 3),
        ],
    )
    merge_changes(spark, tbl, b2, batch_key="b2")
    v2 = tbl.snapshot().version
    assert state(spark, tbl) != s1

    snap = tbl.rollback(v1)
    # a NEW commit, not a pointer rewind: history stays readable
    assert snap.version == v2 + 1
    assert state(spark, tbl) == s1
    assert tbl.read(spark, snapshot_version=v2).count() == 2  # forensics intact
    # rollback restored v1's props → b2 is no longer ledgered → replay re-applies
    r = merge_changes(spark, tbl, b2, batch_key="b2")
    assert not r.skipped
    assert ("c2", 0) in state(spark, tbl)
    # lineage surfaces the rollback commit
    modes = {row["mode"] for row in tbl.lineage_df(spark).collect()}
    assert "rollback" in modes


def test_rollback_noop_and_argument_errors(spark, make_table):
    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "x", None, 10, 1)]), batch_key="b1"
    )
    v = tbl.snapshot().version
    assert tbl.rollback(v).version == v  # rollback to head: no-op
    with pytest.raises(ValueError):
        tbl.rollback()
    with pytest.raises(ValueError):
        tbl.rollback(999)
    with pytest.raises(KeyError):
        tbl.rollback(tag="nope")
    tbl.set_tag("good", v)
    with pytest.raises(ValueError):
        tbl.rollback(v, tag="good")


def test_rollback_then_expiry_keeps_restored_files_live(spark, make_table):
    """The restored version's data files are referenced by the rollback
    commit, so snapshot expiry + orphan vacuum must never delete them."""
    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "keep me", None, 10, 1)]), batch_key="b1"
    )
    v1 = tbl.snapshot().version
    s1 = state(spark, tbl)
    for i in range(2, 5):
        merge_changes(
            spark,
            tbl,
            cdc_rows(spark, [("U", "c1", 0, "user", f"rev{i}", None, 10 * i, i)]),
            batch_key=f"b{i}",
        )
    tbl.rollback(v1)
    tbl.expire_snapshots(keep_last=1)
    tbl.remove_orphan_files(grace_seconds=0)
    assert state(spark, tbl) == s1
    # the expired bad versions are genuinely gone (fails loudly, not silently)
    with pytest.raises(FileNotFoundError):
        tbl.snapshot(v1 + 1)


def test_wap_gate_publishes_blocks_and_recovers(spark, tmp_path):
    p = MedallionPipeline(str(tmp_path / "m"), n_buckets=8, run_qa=False)
    p.create_tables(TRANSCRIPT_SCHEMA)
    p.apply_batch(spark, cdc_rows(spark, [("I", "c1", 0, "user", "hello", None, 10, 1)]), 0)
    ok = p.audit_and_publish(spark)
    assert ok["published"] and "gold_daily" in ok["versions"]
    assert p.read(spark, "gold_daily", tag="published").count() == 1

    # batch 2 lands on the heads but is invisible through the tag until audited
    p.apply_batch(spark, cdc_rows(spark, [("I", "c2", 0, "user", "yo", None, 20, 2)]), 1)
    assert p.read(spark, "gold_daily").count() == 2
    assert p.read(spark, "gold_daily", tag="published").count() == 1

    # forced-critical audit (freshness gate): tag must NOT move
    bad = p.audit_and_publish(spark, as_of=datetime(2030, 1, 1), max_delay_hours=0.001)
    assert not bad["published"] and bad["critical_failures"]
    assert p.read(spark, "gold_daily", tag="published").count() == 1

    # recovery arm: heads roll back to the published state...
    rolled = p.rollback_to_tag()
    assert "gold_daily" in rolled and "qa_results" not in rolled
    assert p.read(spark, "gold_daily").count() == 1
    # ...the failing audit's QA rows survive as evidence (qa_results untouched)
    qa = p.read(spark, "qa_results")
    assert qa.filter("is_critical_failure").count() > 0

    # re-feeding the rolled-back batch re-applies (its ledger entry was restored away)
    r = p.apply_batch(spark, cdc_rows(spark, [("I", "c2", 0, "user", "yo", None, 20, 2)]), 1)
    assert not r.bronze.skipped
    assert p.read(spark, "gold_daily").count() == 2
    assert_marts_match_recompute(spark, p)

    # a clean audit publishes the repaired heads
    ok2 = p.audit_and_publish(spark)
    assert ok2["published"]
    assert p.read(spark, "gold_daily", tag="published").count() == 2
