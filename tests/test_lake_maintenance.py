"""Storage lifecycle maintenance: snapshot expiry, orphan-file vacuum,
and incremental changelog reads (the Iceberg expire_snapshots /
remove_orphan_files / incremental-read surface the reference delegates
to its warehouse; here it is first-class on the LakeTable format)."""

import os

from pyspark.sql import functions as F

from digital_analytics_data_platform_spark.lake import LakeTable, compact, merge_changes
from digital_analytics_data_platform_spark.lake.table import bucket_of
from tests.conftest import cdc_rows


def _apply(spark, tbl, rows, key):
    merge_changes(spark, tbl, cdc_rows(spark, rows), batch_key=key, strategy="mor")


def _parquet_count(path):
    return sum(
        1
        for dirpath, _d, names in os.walk(os.path.join(path, "data"))
        for n in names
        if n.endswith(".parquet")
    )


def test_expire_snapshots_vacuums_replaced_files(spark, make_table):
    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    _apply(spark, tbl, [("U", "c1", 0, "user", "b", None, 20, 2)], "b2")
    _apply(spark, tbl, [("I", "c2", 0, "user", "c", None, 30, 3)], "b3")
    compact(spark, tbl, all_buckets=True)  # replaces every delta file
    pre_files = _parquet_count(tbl.path)
    versions = tbl.list_snapshots()
    assert len(versions) >= 5  # create + 3 merges + compact

    stats = tbl.expire_snapshots(keep_last=1)
    assert stats["expired_snapshots"] == len(versions) - 1
    assert stats["deleted_files"] > 0 and stats["freed_bytes"] > 0
    assert _parquet_count(tbl.path) < pre_files
    # only the current manifest remains; current state intact
    assert tbl.list_snapshots() == [versions[-1]]
    assert {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read(spark).collect()
    } == {("c1", 0): "b", ("c2", 0): "c"}


def test_expire_keeps_time_travel_for_retained_versions(spark, make_table):
    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    v1 = tbl.snapshot().version
    _apply(spark, tbl, [("U", "c1", 0, "user", "b", None, 20, 2)], "b2")
    v2 = tbl.snapshot().version

    tbl.expire_snapshots(keep_last=2)
    # both retained versions stay readable with their original state
    assert tbl.read(spark, snapshot_version=v1).collect()[0]["text"] == "a"
    assert tbl.read(spark, snapshot_version=v2).collect()[0]["text"] == "b"
    # the expired creation snapshot fails loudly, not silently
    try:
        tbl.snapshot(0)
        assert False, "expected missing-manifest error"
    except FileNotFoundError:
        pass


def test_expire_never_deletes_files_live_in_retained(spark, make_table):
    """A file written in an expired version but still referenced by the
    current manifest (MOR delta carried forward) must survive."""
    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    _apply(spark, tbl, [("I", "c2", 0, "user", "b", None, 20, 2)], "b2")
    live_before = {f["path"] for f in tbl.snapshot().files}
    tbl.expire_snapshots(keep_last=1)
    for rel in live_before:
        assert os.path.exists(os.path.join(tbl.path, rel)), rel


def test_remove_orphan_files(spark, make_table):
    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    # simulate a crash between write_data_files and commit: files land,
    # manifest never publishes them
    batch = cdc_rows(spark, [("I", "c9", 0, "user", "orphan", None, 99, 9)])
    staged = batch.withColumn("_deleted", F.lit(False)).drop("op").withColumn(
        "_bucket", bucket_of("conv_id", tbl.snapshot().n_buckets)
    )
    tbl.write_data_files(staged)
    pre = _parquet_count(tbl.path)

    # grace window protects the in-flight write
    kept = tbl.remove_orphan_files(grace_seconds=3600)
    assert kept["deleted_files"] == 0 and _parquet_count(tbl.path) == pre

    stats = tbl.remove_orphan_files(grace_seconds=0)
    assert stats["deleted_files"] > 0
    assert _parquet_count(tbl.path) < pre
    # committed state untouched
    assert tbl.read(spark).count() == 1


def test_changelog_emits_inserts_updates_and_deletes(spark, make_table):
    tbl = make_table()
    _apply(
        spark,
        tbl,
        [
            ("I", "c1", 0, "user", "hello", None, 10, 1),
            ("I", "c2", 0, "user", "yo", None, 20, 2),
            ("I", "c3", 0, "user", "hey", None, 30, 3),
        ],
        "b1",
    )
    v1 = tbl.snapshot().version
    _apply(
        spark,
        tbl,
        [
            ("U", "c1", 0, "user", "hello v2", None, 40, 4),
            ("D", "c2", 0, None, None, None, 50, 5),
            ("I", "c4", 0, "user", "new", None, 60, 6),
        ],
        "b2",
    )
    changes = {
        (r["conv_id"], r["turn_idx"]): (
            r["_change_type"],
            r["before"] and r["before"]["text"],
            r["after"] and r["after"]["text"],
        )
        for r in tbl.read_changelog(spark, since_version=v1).collect()
    }
    # exactly the touched keys for a MOR append; c3 untouched -> absent
    assert changes == {
        ("c1", 0): ("update", "hello", "hello v2"),
        ("c2", 0): ("delete", "yo", None),
        ("c4", 0): ("insert", None, "new"),
    }


def test_changelog_empty_and_late_loser_is_no_change(spark, make_table):
    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "winner", None, 100, 10)], "b1")
    v1 = tbl.snapshot().version
    assert tbl.read_changelog(spark, since_version=v1).count() == 0
    # a late out-of-order event that LOSES last-writer-wins lands in a
    # delta file, but the key's winning row is unchanged: no change
    _apply(spark, tbl, [("U", "c1", 0, "user", "stale late", None, 50, 5)], "b2")
    assert tbl.snapshot().version > v1
    assert tbl.read_changelog(spark, since_version=v1).count() == 0


def test_changelog_window_between_versions(spark, make_table):
    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    v1 = tbl.snapshot().version
    _apply(spark, tbl, [("I", "c2", 0, "user", "b", None, 20, 2)], "b2")
    v2 = tbl.snapshot().version
    _apply(spark, tbl, [("I", "c3", 0, "user", "c", None, 30, 3)], "b3")
    got = {r["conv_id"] for r in tbl.read_changelog(spark, since_version=v1, until_version=v2).collect()}
    assert got == {"c2"}


def test_changelog_replay_equivalence(spark, make_table):
    """A downstream consumer applying read_changelog windows version by
    version must converge to the table's exact final state — the
    changelog-emission analog of the north rule's replay equivalence."""
    from digital_analytics_data_platform_spark import datagen

    tbl = make_table("src", n_buckets=8)
    log = datagen.change_log(spark, 2_000, n_convs=25, turns_per_conv=8).cache()
    versions = [tbl.snapshot().version]
    for i in range(4):
        lo, hi = i * 500, (i + 1) * 500
        merge_changes(
            spark,
            tbl,
            log.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi)),
            batch_key=f"b{i}",
            strategy="mor",
        )
        versions.append(tbl.snapshot().version)
    if tbl.snapshot().props.get("delta_buckets"):
        compact(spark, tbl, all_buckets=True)
        versions.append(tbl.snapshot().version)

    state: dict = {}
    for since, until in zip(versions, versions[1:]):
        for r in tbl.read_changelog(spark, since_version=since, until_version=until).collect():
            k = (r["conv_id"], r["turn_idx"])
            if r["_change_type"] == "delete":
                state.pop(k, None)
            else:
                state[k] = r["after"]["text"]
    final = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in tbl.read(spark).collect()
    }
    assert state == final


def test_pipeline_maintenance_cadence(spark, tmp_path):
    """expire_snapshots_every triggers per-table snapshot expiry inside
    apply_batch; ledgers (current-snapshot props) survive, so replay
    stays a no-op after expiry."""
    from digital_analytics_data_platform_spark.plans import MedallionPipeline
    from tests.conftest import TRANSCRIPT_SCHEMA

    p = MedallionPipeline(
        str(tmp_path / "m"), n_buckets=8, run_qa=False,
        expire_snapshots_every=2, keep_snapshots=1,
    )
    p.create_tables(TRANSCRIPT_SCHEMA)
    b1 = cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)])
    b2 = cdc_rows(spark, [("I", "c2", 0, "user", "b", None, 20, 2)])
    r1 = p.apply_batch(spark, b1, "b1")
    assert r1.maintenance is None
    r2 = p.apply_batch(spark, b2, "b2")
    assert r2.maintenance is not None
    assert any(s["expired_snapshots"] > 0 for s in r2.maintenance)
    # every surviving table kept only its newest manifest
    from digital_analytics_data_platform_spark.lake import LakeTable
    import os as _os

    for name in _os.listdir(str(tmp_path / "m")):
        path = str(tmp_path / "m" / name)
        if LakeTable.exists(path):
            t = LakeTable.load(path)
            assert t.list_snapshots() == [t.snapshot().version]
    # state intact and replay after expiry still a ledger no-op
    assert p.read(spark, "bronze").count() == 2
    r3 = p.apply_batch(spark, b2, "b2")
    assert r3.bronze.skipped
    assert p.read(spark, "bronze").count() == 2


# ---- bucket rescale (partition-spec evolution) ---------------------------


def _state(spark, tbl, **kw):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in tbl.read(spark, **kw).collect()
    }


def test_rescale_grow_preserves_state_and_resets_deltas(spark, make_table):
    from digital_analytics_data_platform_spark.lake import rescale_buckets

    tbl = make_table(n_buckets=8)
    _apply(
        spark,
        tbl,
        [
            ("I", "c1", 0, "user", "a", None, 10, 1),
            ("I", "c2", 0, "user", "b", None, 11, 2),
            ("I", "c3", 0, "user", "c", None, 12, 3),
        ],
        "b1",
    )
    _apply(
        spark,
        tbl,
        [
            ("U", "c1", 0, "user", "a2", None, 20, 4),
            ("D", "c2", 0, None, None, None, 21, 5),
        ],
        "b2",
    )
    before = _state(spark, tbl)
    v_before = tbl.snapshot().version

    rows = rescale_buckets(spark, tbl, 32)
    snap = tbl.snapshot()
    assert rows >= len(before)  # tombstone for c2 is retained in the rewrite
    assert snap.n_buckets == 32
    assert snap.props.get("delta_buckets", {}) == {}  # MOR deltas folded
    assert all(0 <= f["bucket"] < 32 for f in snap.files)
    assert any(f["bucket"] >= 8 for f in snap.files)  # actually re-bucketed
    assert _state(spark, tbl) == before == {("c1", 0): "a2", ("c3", 0): "c"}

    # tombstone still guards late resurrection across the rescale
    _apply(spark, tbl, [("U", "c2", 0, "user", "zombie", None, 15, 6)], "b3")
    assert _state(spark, tbl) == before

    # ledger carried over: replaying an applied batch is still a no-op
    res = merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c9", 9, "user", "x", None, 99, 9)]), batch_key="b1"
    )
    assert res.skipped

    # time travel reads the old version under its own (8-bucket) spec
    assert _state(spark, tbl, snapshot_version=v_before) == before

    # merges after the rescale bucket under the new spec and read back
    _apply(spark, tbl, [("I", "c4", 0, "user", "d", None, 30, 7)], "b4")
    assert _state(spark, tbl)[("c4", 0)] == "d"


def test_rescale_noop_and_validation(spark, make_table):
    import pytest

    from digital_analytics_data_platform_spark.lake import rescale_buckets

    tbl = make_table(n_buckets=8)
    assert rescale_buckets(spark, tbl, 8) == 0
    with pytest.raises(ValueError):
        rescale_buckets(spark, tbl, 0)
    # a spec change with files carried across it is refused at the commit layer
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    with pytest.raises(ValueError):
        tbl.commit(new_files=[], n_buckets=16)


def test_rescale_retries_when_apply_wins_the_race(spark, make_table, monkeypatch):
    from digital_analytics_data_platform_spark.lake import rescale_buckets
    from digital_analytics_data_platform_spark.lake.table import LakeTable as LT

    tbl = make_table(n_buckets=8)
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")

    real_commit = LT.commit
    fired = {"n": 0}

    def racing_commit(self, **kw):
        if fired["n"] == 0 and kw.get("n_buckets"):
            fired["n"] = 1
            _apply(spark, tbl, [("I", "c2", 0, "user", "b", None, 20, 2)], "b2")
        return real_commit(self, **kw)

    monkeypatch.setattr(LT, "commit", racing_commit)
    rescale_buckets(spark, tbl, 32, conflict_retries=2)
    monkeypatch.undo()
    assert fired["n"] == 1
    assert tbl.snapshot().n_buckets == 32
    # the racing batch's row survived the retried rewrite
    assert _state(spark, tbl) == {("c1", 0): "a", ("c2", 0): "b"}


# ---- snapshot tags --------------------------------------------------------


def test_tags_pin_versions_through_expiry(spark, make_table):
    """A tagged snapshot (audit/rollback pin) survives expire_snapshots
    beyond keep_last, stays readable via read(tag=...), and is vacuumed
    normally once the tag is dropped."""
    import pytest

    tbl = make_table()
    _apply(spark, tbl, [("I", "c1", 0, "user", "v1", None, 10, 1)], "b1")
    assert tbl.set_tag("audit") == 1
    for i in range(2, 8):
        _apply(spark, tbl, [("U", "c1", 0, "user", f"v{i}", None, 10 * i, i)], f"b{i}")

    out = tbl.expire_snapshots(keep_last=2)
    assert out["expired_snapshots"] > 0
    assert 1 in tbl.list_snapshots()  # pinned
    assert tbl.read(spark, tag="audit").collect()[0]["text"] == "v1"
    assert tbl.tags() == {"audit": 1}

    # re-tag moves the pin; delete + expire vacuums the old version
    tbl.set_tag("audit", tbl.snapshot().version)
    tbl.expire_snapshots(keep_last=2)
    assert 1 not in tbl.list_snapshots()
    with pytest.raises(KeyError):
        tbl.read(spark, tag="nope")
    with pytest.raises(ValueError):
        tbl.set_tag("bad", 999)
    with pytest.raises(ValueError):
        tbl.set_tag("../escape")
    with pytest.raises(ValueError):
        tbl.read(spark, tag="audit", snapshot_version=1)
    tbl.delete_tag("audit")
    assert tbl.tags() == {}


def test_metrics_df_empty_dir_is_empty_frame(spark, make_table):
    from digital_analytics_data_platform_spark.streaming import metrics_df

    tbl = make_table()
    assert metrics_df(spark, tbl.path).count() == 0


def test_clustered_compaction_narrows_stats_and_prunes(spark, make_table):
    """compact(cluster_by=["ts"]) range-splits each bucket's rewrite so
    per-file min/max ts stats become narrow slivers; a stats_range
    window read then skips most files — the Iceberg sort-order payoff
    at consumption time."""
    tbl = make_table(n_buckets=2)
    rows = [("I", f"c{i % 8}", i, "user", f"t{i}", None, i * 86400, i + 1) for i in range(200)]
    _apply(spark, tbl, rows, "b1")

    compact(spark, tbl, all_buckets=True)  # unclustered baseline rewrite
    base_files = tbl.snapshot().files
    spans = [(f["min_ts"], f["max_ts"]) for f in base_files]

    compact(spark, tbl, all_buckets=True, write_salt=4, cluster_by=["ts"])
    snap = tbl.snapshot()
    assert len(snap.files) > len(base_files)  # each bucket split into range slivers
    # every clustered file's ts span is strictly inside the bucket-wide span
    widest = max(f["max_ts"] for f in base_files)
    narrowest = min(f["min_ts"] for f in base_files)
    assert all(not (f["min_ts"] == narrowest and f["max_ts"] == widest) for f in snap.files)

    lo, hi = "2026-02-01T00:00:00", "2026-02-10T00:00:00"
    pruned = tbl.read(spark, stats_range={"ts": (lo, hi)})
    assert 0 < len(pruned.inputFiles()) < len(snap.files)
    # pruning is only a skip, never a wrong answer
    got = pruned.filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).count()
    full = tbl.read(spark).filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).count()
    assert got == full > 0


def test_files_df_metadata_table(spark, make_table):
    """files_df is the queryable manifest (Iceberg table$files analog):
    one row per live file, rows/bytes/stat columns reconciling with the
    snapshot manifest."""
    tbl = make_table(n_buckets=4)
    _apply(spark, tbl, [("I", f"c{i}", 0, "user", "x", None, 10 + i, i + 1) for i in range(20)], "b1")
    fdf = tbl.files_df(spark)
    snap = tbl.snapshot()
    assert fdf.count() == len(snap.files)
    assert fdf.agg(F.sum("rows")).collect()[0][0] == sum(f["rows"] for f in snap.files)
    assert fdf.filter("bytes IS NULL").count() == 0
    assert "min_ts" in fdf.columns and "max_lsn" in fdf.columns


def test_time_travel_version_at_and_as_of_read(spark, make_table):
    """FOR TIMESTAMP AS OF analog: version_at resolves the snapshot
    current at a wall-clock instant (manifest committed_at, mtime
    fallback for pre-upgrade manifests); read(as_of=…) serves that
    state; a pre-table timestamp raises."""
    import json
    import os
    import time
    from datetime import datetime

    tbl = make_table("ttravel", n_buckets=2)
    instants = []
    for b in range(3):
        merge_changes(
            spark,
            tbl,
            cdc_rows(spark, [("U", "c1", 0, "user", f"text-v{b}", None, b * 10, b * 100)]),
            batch_key=f"b{b}",
            strategy="mor",
        )
        time.sleep(0.05)
        instants.append(time.time())  # an instant AFTER commit b
        time.sleep(0.05)

    versions = tbl.list_snapshots()
    assert [tbl.version_at(t) for t in instants] == versions[-3:]
    # datetime input resolves identically
    assert tbl.version_at(datetime.fromtimestamp(instants[0])) == versions[-3]

    # as_of read serves each historical state
    for b, t in enumerate(instants):
        rows = tbl.read(spark, as_of=t).collect()
        assert [r.text for r in rows] == [f"text-v{b}"]

    # before the table existed → no state to read
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tbl.version_at(instants[0] - 3600)
    with _pytest.raises(ValueError):
        tbl.read(spark, as_of=instants[0], tag="published")  # two selectors

    # pre-upgrade manifest (no committed_at field): mtime fallback
    v = versions[-3]
    p = os.path.join(tbl.path, "snapshots", f"v{v:012d}.json")
    d = json.load(open(p))
    d.pop("committed_at")
    mtime = os.path.getmtime(p)
    with open(p, "w") as f:
        json.dump(d, f)
    os.utime(p, (mtime, mtime))
    assert tbl.version_at(instants[0]) == v


# ---- consumer-protected expiry + scheduled maintenance in the runner ----


def test_expire_protect_versions_since_floor(spark, make_table):
    """protect_versions_since retains every snapshot an incremental
    consumer still needs; without it the same keep_last breaks the
    consumer's next changelog read loudly (never silently)."""
    import pytest

    tbl = make_table()
    for i in range(5):
        _apply(spark, tbl, [("I", f"c{i}", 0, "user", f"t{i}", None, 10 + i, i + 1)], f"b{i}")
    versions = tbl.list_snapshots()
    cursor = versions[1]  # a consumer parked two commits back

    stats = tbl.expire_snapshots(keep_last=1, protect_versions_since=cursor)
    kept = tbl.list_snapshots()
    assert kept == [v for v in versions if v >= cursor]
    assert stats["expired_snapshots"] == len(versions) - len(kept)
    # the consumer's incremental read still works after expiry
    delta = tbl.read_changelog(spark, since_version=cursor)
    assert delta.count() > 0

    # drop the floor: keep_last=1 expires the cursor's manifest and the
    # consumer fails loudly (missing manifest), not with silent data loss
    tbl.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        tbl.read_changelog(spark, since_version=cursor).count()


def test_stream_expire_bounds_manifests_and_preserves_state(spark, make_table, tmp_path):
    """apply_stream(expire_every=…) keeps a long-lived stream's manifest
    count bounded while final state, exactly-once replay, and tagged
    snapshots all survive."""
    from digital_analytics_data_platform_spark import datagen
    from digital_analytics_data_platform_spark.streaming import (
        apply_stream,
        cdc_file_stream,
        write_log_segments,
    )
    from tests.conftest import assert_state_equal, oracle_state

    log = datagen.change_log(spark, 4_000, n_convs=60, turns_per_conv=8)
    log_dir = str(tmp_path / "cdclog")
    write_log_segments(log, log_dir, n_segments=8)

    tbl = make_table()
    tbl.set_tag("genesis", 0)  # tag must pin its manifest through expiry
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m = apply_stream(
        spark, src, tbl.path, str(tmp_path / "ckpt"), pipeline_id="bronze",
        strategy="mor", compact_every=4, expire_every=2, expire_keep_last=2,
    )
    assert m.batches >= 8
    assert m.expired_snapshots > 0 and m.gc_deleted_files > 0

    # manifests bounded: newest keep_last + the tagged genesis manifest
    kept = tbl.list_snapshots()
    assert len(kept) <= 2 + 1
    assert 0 in kept  # tag survived every expiry round

    got = tbl.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    assert_state_equal(got, oracle_state(log.toPandas()))

    # exactly-once replay unaffected: ledger lives in the CURRENT
    # snapshot's props, which expiry never drops
    src2 = cdc_file_stream(spark, log_dir)
    _, m2 = apply_stream(spark, src2, tbl.path, str(tmp_path / "ckpt"), pipeline_id="bronze")
    assert m2.events == 0


def test_stream_expire_protects_rollup_cursor(spark, make_table, tmp_path):
    """With an IVM rollup attached and a sync cadence SLOWER than the
    expiry cadence, the runner's protection floor keeps every source
    snapshot the rollup's next sync reads — aggressive keep_last=1
    cannot break the sync, and the mart stays exactly equal to a
    recompute."""
    from digital_analytics_data_platform_spark import datagen
    from digital_analytics_data_platform_spark.plans.ivm import IncrementalRollup
    from digital_analytics_data_platform_spark.streaming import (
        apply_stream,
        cdc_file_stream,
        write_log_segments,
    )

    log = datagen.change_log(spark, 3_000, n_convs=50, turns_per_conv=8)
    log_dir = str(tmp_path / "cdclog")
    write_log_segments(log, log_dir, n_segments=6)

    tbl = make_table()
    roll = IncrementalRollup.create(
        str(tmp_path / "mart"), tbl, ["role"], ["turn_idx"], n_buckets=4
    )
    src = cdc_file_stream(spark, log_dir, max_files_per_trigger=1)
    _, m = apply_stream(
        spark, src, tbl.path, str(tmp_path / "ckpt"), pipeline_id="bronze",
        strategy="mor", rollups=[roll], rollup_sync_every=3,
        expire_every=1, expire_keep_last=1,
    )
    assert m.batches >= 6
    assert m.expired_snapshots > 0  # expiry really ran between syncs

    # mart ≡ recompute: the cursor's snapshots were never expired away
    roll.sync(spark, tbl)  # drain any tail window
    got = {
        (r.role,): (r.cnt, round(r.sum_turn_idx, 6)) for r in roll.read(spark).collect()
    }
    want = {
        (r.role,): (r.cnt, round(r.sum_turn_idx, 6))
        for r in tbl.read(spark)
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("turn_idx").cast("double")).alias("sum_turn_idx"),
        )
        .collect()
    }
    assert got == want


def test_distinct_rollup_expire_protects_support_changelog(spark, make_table, tmp_path):
    """DistinctCountRollup.expire guards its INTERNAL consumer: the
    outer level tails the support mart's changelog, so support-mart
    expiry floors at the outer cursor even at keep_last=1."""
    from digital_analytics_data_platform_spark.plans.ivm import DistinctCountRollup

    tbl = make_table()
    roll = DistinctCountRollup.create(
        str(tmp_path / "dmart"), tbl, ["role"], "conv_id", n_buckets=4
    )
    _apply(spark, tbl, [("I", "c1", 0, "user", "a", None, 10, 1)], "b1")
    roll.sync(spark, tbl)
    # advance ONLY the support level through several source commits so
    # the outer's cursor lags several support-mart versions behind
    for i in range(3):
        _apply(spark, tbl, [("I", f"x{i}", 0, "user", "a", None, 20 + i, 2 + i)], f"s{i}")
        roll.support.sync(spark, tbl)
    assert roll.support.table.snapshot().version > roll.outer.cursor()

    stats = roll.expire(keep_last=1)
    assert stats["expired_snapshots"] > 0
    # support versions >= outer cursor all survive
    assert min(roll.support.table.list_snapshots()) <= roll.outer.cursor()

    # the lagging outer level catches up exactly
    roll.outer.sync(spark, roll.support.table)
    got = {r.role: r[f"distinct_conv_id"] for r in roll.read(spark).collect()}
    want = {
        r.role: r.d
        for r in tbl.read(spark).groupBy("role").agg(F.countDistinct("conv_id").alias("d")).collect()
    }
    assert got == want


# ---- retention truncation (metadata-first TTL sweep) ---------------------


def _ts(s):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(1767225600 + s, tz=timezone.utc).replace(tzinfo=None)


def test_retention_truncate_drops_old_rows_and_whole_files(spark, make_table):
    """A ts-clustered table sweeps most expired data by metadata alone:
    wholly-expired files leave the manifest unread, only straddling
    files are rewritten, and the surviving state is exactly the
    recompute of `ts >= cutoff`."""
    from digital_analytics_data_platform_spark.lake import compact, retention_truncate

    tbl = make_table()
    # three eras of data; MOR appends then a ts-clustered compact so
    # file extents are tight in ts
    for era in range(3):
        rows = [
            ("I", f"c{era}_{i}", 0, "user", f"t{era}", None, era * 100 + i, era * 100 + i)
            for i in range(20)
        ]
        _apply(spark, tbl, rows, f"era{era}")
    compact(spark, tbl, all_buckets=True, cluster_by=["ts"], write_salt=4)

    pre_versions = tbl.snapshot().version
    stats = retention_truncate(spark, tbl, _ts(150))
    assert stats["version"] == pre_versions + 1
    assert stats["files_dropped"] > 0  # metadata-only drops happened
    assert stats["rows_dropped"] == 40  # eras 0 and 1 (20 rows each)
    # every surviving row is post-cutoff; state == recompute
    got = {(r["conv_id"], r["ts"]) for r in tbl.read(spark).collect()}
    assert len(got) == 20
    assert all(ts >= _ts(150) for _c, ts in got)

    # cutoff before everything: exact no-op, no new version
    stats2 = retention_truncate(spark, tbl, _ts(0))
    assert stats2 == {
        "files_dropped": 0, "files_rewritten": 0, "rows_dropped": 0,
        "rows_rewritten": 0, "version": stats["version"],
    }

    # cutoff after everything: pure metadata delete — no rewrites at all
    stats3 = retention_truncate(spark, tbl, _ts(10_000))
    assert stats3["files_rewritten"] == 0 and stats3["files_dropped"] > 0
    assert tbl.read(spark).count() == 0


def test_retention_truncate_lww_safe_across_delta_files(spark, make_table):
    """Removing expired rows can never flip a surviving key's LWW
    resolution: a key's old version expires out of one delta file while
    its newer version survives in another; keys whose EVERY version
    (including tombstones) expired vanish entirely."""
    from digital_analytics_data_platform_spark.lake import retention_truncate

    tbl = make_table()
    _apply(spark, tbl, [("I", "keep", 0, "user", "old", None, 10, 1),
                        ("I", "gone", 0, "user", "x", None, 20, 2)], "b1")
    _apply(spark, tbl, [("U", "keep", 0, "user", "new", None, 200, 3),
                        ("D", "gone", 0, None, None, None, 30, 4)], "b2")

    stats = retention_truncate(spark, tbl, _ts(100))
    assert stats["rows_dropped"] == 3  # keep@10, gone@20, tombstone@30
    state = {r["conv_id"]: r["text"] for r in tbl.read(spark).collect()}
    assert state == {"keep": "new"}
    # the expired tombstone is physically gone too (documented horizon:
    # a pre-cutoff late event would re-insert until the next sweep)
    assert tbl.read(spark, include_deleted=True).filter("conv_id = 'gone'").count() == 0

    # time travel to the pre-sweep snapshot still sees the old world
    old = tbl.read(spark, snapshot_version=stats["version"] - 1)
    assert old.count() == 1  # keep (gone is tombstoned)


# ---- manifest-served exact counts ---------------------------------------


def test_fast_count_metadata_only(spark, make_table):
    """fast_count serves the exact live row count from the manifest
    (no Spark job) precisely when the read path skips LWW collapse —
    canonical layouts after COW merges, compaction, and retention —
    and refuses (None) on a MOR delta tail."""
    from digital_analytics_data_platform_spark.lake import compact, retention_truncate

    tbl = make_table()
    # COW merges keep a canonical layout: exact immediately
    _apply_cow = lambda rows, key: merge_changes(
        spark, tbl, cdc_rows(spark, rows), batch_key=key, strategy="cow"
    )
    _apply_cow([("I", "a", 0, "user", "x", None, 10, 1),
                ("I", "b", 0, "user", "y", None, 20, 2)], "b1")
    _apply_cow([("D", "b", 0, None, None, None, 30, 3),
                ("I", "c", 0, "user", "z", None, 40, 4)], "b2")
    assert tbl.fast_count() == 2  # a, c live; b tombstoned
    assert tbl.fast_count() == tbl.read(spark).count()

    # a MOR delta tail makes physical rows ≠ live keys → refuse
    _apply(spark, tbl, [("U", "a", 0, "user", "x2", None, 50, 5)], "b3")
    assert tbl.fast_count() is None

    # folding the tail restores manifest-exactness
    compact(spark, tbl, all_buckets=True)
    assert tbl.fast_count() == 2 == tbl.read(spark).count()

    # retention rewrites stay canonical: still exact, still no job
    retention_truncate(spark, tbl, _ts(35))
    assert tbl.fast_count() == tbl.read(spark).count() == 2  # a@50, c@40 survive
