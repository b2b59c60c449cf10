"""Multi-writer optimistic-concurrency semantics of the LakeTable commit
protocol: atomic version claims, self-healing ``_CURRENT`` publish, and
merge-level conflict retries.

Reference parity note: the reference platform serializes writers through
BigQuery's job-level isolation (e.g. the scheduled MERGE procedures under
``sql/02_SDI_SA360/03_GOLD/MERGE/``); on a lake-table stack the equivalent
contract is Iceberg's optimistic concurrency — compare-and-swap snapshot
publish plus commit retry — which is what these tests pin down for the
sandbox LakeTable stand-in.
"""

import os
import threading

import pytest

from digital_analytics_data_platform_spark.lake import LakeTable
from digital_analytics_data_platform_spark.lake.merge import compact, merge_changes
from digital_analytics_data_platform_spark.lake.table import CommitConflict
from tests.conftest import cdc_rows


def _snap_path(tbl, version):
    return os.path.join(tbl.path, "snapshots", f"v{version:012d}.json")


def _current(tbl):
    with open(os.path.join(tbl.path, "_CURRENT")) as f:
        return int(f.read().strip())


def test_version_claim_is_exclusive_and_never_overwrites(spark, make_table):
    """The loser of a version race must raise, and the winner's snapshot
    file must survive byte-for-byte (the old exists-check + os.replace
    protocol silently overwrote it)."""
    tbl = make_table()
    merge_changes(spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]), batch_key="b1")
    winner = open(_snap_path(tbl, 1)).read()

    stale = tbl.snapshot(0)  # a writer that computed v1 from v0 but lost the race
    with pytest.raises(CommitConflict):
        tbl._write_snapshot(
            type(stale)(
                version=1,
                parent=0,
                schema_json=stale.schema_json,
                key_cols=stale.key_cols,
                order_cols=stale.order_cols,
                n_buckets=stale.n_buckets,
                files=[],
            )
        )
    assert open(_snap_path(tbl, 1)).read() == winner
    assert _current(tbl) == 1


def test_stale_expected_version_conflicts(spark, make_table):
    tbl = make_table()
    merge_changes(spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]), batch_key="b1")
    with pytest.raises(CommitConflict):
        tbl.commit(new_files=[], expected_version=0)


def test_merge_retries_through_conflict_and_loses_nothing(spark, make_table, monkeypatch):
    """A merge whose commit CAS fails once (concurrent writer landed first)
    re-runs against the refreshed snapshot and applies cleanly: both
    writers' rows survive, the ledger carries both batch keys."""
    tbl = make_table()
    merge_changes(spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]), batch_key="b1")

    real_commit = LakeTable.commit
    fired = {"n": 0}

    def racing_commit(self, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            # another writer lands between our snapshot read and our commit
            merge_changes(
                spark, tbl, cdc_rows(spark, [("I", "c2", 0, "user", "b", None, 20, 2)]), batch_key="b2"
            )
        return real_commit(self, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    res = merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("I", "c3", 0, "user", "c", None, 30, 3)]),
        batch_key="b3",
        conflict_retries=2,
    )
    monkeypatch.undo()
    assert not res.skipped and fired["n"] == 1
    state = {r["conv_id"]: r["text"] for r in tbl.read(spark).collect()}
    assert state == {"c1": "a", "c2": "b", "c3": "c"}
    # the retried commit rebuilt its ledger from the refreshed snapshot,
    # so the interleaved writer's entry survives alongside ours
    ledger = tbl.snapshot().props["ledger"]
    assert {"b1", "b2", "b3"} <= set(ledger)


def _ts(s):
    import datetime

    return datetime.datetime.fromtimestamp(1767225600 + s, tz=datetime.timezone.utc).replace(tzinfo=None)


@pytest.fixture(scope="module")
def budget_tables(spark, tmp_path_factory):
    """Tiny tables for the retry-budget pins. Every publish in those tests
    loses its CAS, so no entry point ever changes these tables."""
    from types import SimpleNamespace

    from pyspark.sql import types as T

    from digital_analytics_data_platform_spark.operators.patch import PatchTable
    from digital_analytics_data_platform_spark.operators.scd2 import Scd2Table
    from digital_analytics_data_platform_spark.streaming.bootstrap import bootstrap_begin
    from tests.conftest import TRANSCRIPT_SCHEMA

    root = tmp_path_factory.mktemp("budgets")

    def make(name):
        return LakeTable.create(
            str(root / name), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=4
        )

    tbl = make("t")  # v1 live rows, v2 a tombstone on a MOR delta tail
    merge_changes(
        spark, tbl,
        cdc_rows(spark, [("I", "c1", 0, "user", "a", "x", 10, 1), ("I", "c2", 0, "user", "b", None, 20, 2)]),
        batch_key="b1", strategy="mor",
    )
    merge_changes(
        spark, tbl, cdc_rows(spark, [("D", "c2", 0, "user", "b", None, 30, 3)]), batch_key="b2", strategy="mor"
    )
    boot = make("boot")
    bootstrap_begin(boot, snapshot_lsn=5, chunks=2, versioned=False)
    log_schema = T.StructType(
        [T.StructField("uid", T.StringType()), T.StructField("lsn", T.LongType()), T.StructField("a", T.StringType())]
    )
    return SimpleNamespace(
        tbl=tbl,
        boot=boot,
        scd2=Scd2Table.create(
            str(root / "hist"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=4
        ),
        patch=PatchTable.create(str(root / "patch"), log_schema, ["uid"], "lsn", n_buckets=4),
        log_schema=log_schema,
    )


def _budget_cases():
    from digital_analytics_data_platform_spark.lake.merge import (
        delete_where,
        expire_tombstones,
        reconcile_backfill,
        replace_full,
        rescale_buckets,
        retention_truncate,
    )
    from digital_analytics_data_platform_spark.streaming.bootstrap import bootstrap_begin, bootstrap_finish

    row = ("I", "c3", 0, "user", "c", None, 40, 4)
    garbage = (None, None, 0, "user", "g", None, 50, 5)  # null key: quarantined, nothing to append
    cases = [
        ("merge_cow", 2, lambda s, t: merge_changes(s, t.tbl, cdc_rows(s, [row]), batch_key="x", conflict_retries=1)),
        ("merge_mor", 4, lambda s, t: merge_changes(
            s, t.tbl, cdc_rows(s, [row]), batch_key="x", strategy="mor", conflict_retries=1)),
        ("merge_mor_ledger_only", 4, lambda s, t: merge_changes(
            s, t.tbl, cdc_rows(s, [garbage]), batch_key="x", strategy="mor", quarantine=False,
            conflict_retries=1)),
        ("delete_where", 4, lambda s, t: delete_where(
            s, t.tbl, "role = 'user'", batch_key="x", conflict_retries=1)),
        ("compact", 2, lambda s, t: compact(s, t.tbl, conflict_retries=1)),
        ("rescale_buckets", 2, lambda s, t: rescale_buckets(s, t.tbl, 2, conflict_retries=1)),
        ("replace_full", 2, lambda s, t: replace_full(
            s, t.tbl, cdc_rows(s, [row]), batch_key="x", conflict_retries=1)),
        ("reconcile_backfill", 2, lambda s, t: reconcile_backfill(
            s, t.tbl, cdc_rows(s, [row]), _ts(0), _ts(100), batch_key="x", conflict_retries=1)),
        ("expire_tombstones", 2, lambda s, t: expire_tombstones(s, t.tbl, older_than_lsn=10, conflict_retries=1)),
        ("retention_truncate", 2, lambda s, t: retention_truncate(s, t.tbl, _ts(15), conflict_retries=1)),
        ("rename_column", 2, lambda s, t: t.tbl.rename_column("text", "body", conflict_retries=1)),
        ("drop_column", 2, lambda s, t: t.tbl.drop_column("tool", conflict_retries=1)),
        ("rollback", 2, lambda s, t: t.tbl.rollback(1, conflict_retries=1)),
        ("bootstrap_begin", 2, lambda s, t: bootstrap_begin(
            t.tbl, snapshot_lsn=5, chunks=2, versioned=False, conflict_retries=1)),
        ("bootstrap_finish", 2, lambda s, t: bootstrap_finish(t.boot, conflict_retries=1)),
        ("scd2_apply_batch", 4, lambda s, t: t.scd2.apply_batch(
            s, cdc_rows(s, [row]), batch_key="x", conflict_retries=1)),
        ("patch_apply_batch", 2, lambda s, t: t.patch.apply_batch(
            s, s.createDataFrame([("u1", 1, "v")], t.log_schema), batch_key="x", conflict_retries=1)),
    ]
    return [pytest.param(fn, attempts, id=name) for name, attempts, fn in cases]


@pytest.mark.parametrize("call, attempts", _budget_cases())
def test_conflict_retry_budget(spark, budget_tables, monkeypatch, call, attempts):
    """Pins how many publishes each writer makes at ``conflict_retries=1``
    when every publish loses its CAS, and that the last conflict
    propagates. A plain re-run makes 2; the MOR merge (and delete_where,
    which goes through it) and the SCD2 sink make 4, because their
    rebase loop sits inside the outer re-run."""
    published = []

    def lose(self, snap):
        published.append(snap.version)
        raise CommitConflict("simulated lost CAS")

    monkeypatch.setattr(LakeTable, "_write_snapshot", lose)
    with pytest.raises(CommitConflict):
        call(spark, budget_tables)
    assert len(published) == attempts


def test_compact_retries_when_apply_wins_the_race(spark, make_table, monkeypatch):
    """A background compactor losing the CAS to a foreground MOR apply
    re-reads and folds the NEW deltas too — nothing the apply wrote is
    dropped by the rewrite."""
    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]), batch_key="b1", strategy="mor"
    )

    real_commit = LakeTable.commit
    fired = {"n": 0}

    def racing_commit(self, **kw):
        if fired["n"] == 0 and kw.get("replaced_buckets"):
            fired["n"] = 1
            merge_changes(
                spark,
                tbl,
                cdc_rows(spark, [("I", "c2", 0, "user", "b", None, 20, 2)]),
                batch_key="b2",
                strategy="mor",
            )
        return real_commit(self, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    compact(spark, tbl, conflict_retries=2)
    monkeypatch.undo()
    assert fired["n"] == 1
    state = {r["conv_id"]: r["text"] for r in tbl.read(spark).collect()}
    assert state == {"c1": "a", "c2": "b"}
    # the retried compaction folded the racing batch's delta down as well
    assert tbl.snapshot().props.get("delta_buckets", {}) == {}


def test_crashed_publish_self_heals(spark, make_table):
    """Writer claims v2 then dies before rolling _CURRENT forward. The next
    committer finishes the publish (the claimed file is complete by
    construction) and raises CommitConflict; a merge-level retry then
    applies on top — the table never wedges."""
    tbl = make_table()
    merge_changes(spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]), batch_key="b1")

    # simulate the crash: v2 snapshot file exists, _CURRENT still says 1
    snap1 = tbl.snapshot(1)
    crashed = type(snap1)(
        version=2,
        parent=1,
        schema_json=snap1.schema_json,
        key_cols=snap1.key_cols,
        order_cols=snap1.order_cols,
        n_buckets=snap1.n_buckets,
        files=snap1.files,
        props=snap1.props,
    )
    with open(_snap_path(tbl, 2), "w") as f:
        f.write(crashed.to_json())
    assert _current(tbl) == 1

    res = merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("I", "c2", 0, "user", "b", None, 20, 2)]),
        batch_key="b2",
        conflict_retries=1,
    )
    assert res.version == 3 and _current(tbl) == 3
    state = {r["conv_id"]: r["text"] for r in tbl.read(spark).collect()}
    assert state == {"c1": "a", "c2": "b"}


def test_threaded_claim_storm_has_exactly_one_winner(make_table):
    """N threads race to claim the same version: exactly one os.link wins;
    every loser raises CommitConflict. Pure filesystem-level test (no
    Spark) of the CAS primitive itself."""
    tbl = make_table(name="storm")
    base = tbl.snapshot(0)
    results = []
    barrier = threading.Barrier(8)

    def claim(i):
        snap = type(base)(
            version=1,
            parent=0,
            schema_json=base.schema_json,
            key_cols=base.key_cols,
            order_cols=base.order_cols,
            n_buckets=base.n_buckets,
            files=[],
            props={"writer": i},
        )
        barrier.wait()
        try:
            tbl._write_snapshot(snap)
            results.append(("win", i))
        except CommitConflict:
            results.append(("lose", i))

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [r for r in results if r[0] == "win"]
    assert len(wins) == 1 and len(results) == 8
    # the published snapshot is the winner's, intact
    assert tbl.snapshot(1).props["writer"] == wins[0][1]


def test_two_live_pipelines_one_table(spark, make_table, tmp_path):
    """Two Structured Streaming pipelines apply interleaved halves of ONE
    change log to the SAME table, concurrently — every version of every
    key is racing through one of the two writers. The commit CAS plus
    merge-level retries must serialize them without losing a commit:
    the final state equals the LWW oracle over the full log, and both
    pipelines' ledgers/batches are intact."""
    from pyspark.sql import functions as F

    from digital_analytics_data_platform_spark import datagen
    from digital_analytics_data_platform_spark.streaming import (
        apply_stream,
        cdc_file_stream,
        write_log_segments,
    )
    from tests.conftest import assert_state_equal, oracle_state

    n = 6_000
    log = datagen.change_log(spark, n, n_convs=60, turns_per_conv=8)
    left = log.filter(F.col("lsn") % 2 == 0)
    right = log.filter(F.col("lsn") % 2 == 1)
    dir_l, dir_r = str(tmp_path / "feed_l"), str(tmp_path / "feed_r")
    write_log_segments(left, dir_l, n_segments=5)
    write_log_segments(right, dir_r, n_segments=5)

    tbl = make_table()
    q1, m1 = apply_stream(
        spark,
        cdc_file_stream(spark, dir_l, max_files_per_trigger=1),
        tbl.path,
        str(tmp_path / "ckpt_l"),
        pipeline_id="left",
        strategy="mor",
        conflict_retries=20,
        await_termination=False,
    )
    q2, m2 = apply_stream(
        spark,
        cdc_file_stream(spark, dir_r, max_files_per_trigger=1),
        tbl.path,
        str(tmp_path / "ckpt_r"),
        pipeline_id="right",
        strategy="mor",
        conflict_retries=20,
        await_termination=False,
    )
    q1.awaitTermination()
    q2.awaitTermination()
    assert q1.exception() is None and q2.exception() is None

    got = tbl.read(spark).orderBy("conv_id", "turn_idx").toPandas()
    assert_state_equal(got, oracle_state(log.toPandas()))

    # both writers' commits survived: every batch of each pipeline is in
    # the shared ledger exactly once
    ledger = tbl.snapshot().props["ledger"]
    assert sum(1 for k in ledger if k.startswith("left:")) >= 1
    assert sum(1 for k in ledger if k.startswith("right:")) >= 1
    from pyspark.sql import functions as F

    from digital_analytics_data_platform_spark.streaming.runner import metrics_df

    ev = metrics_df(spark, tbl.path, None).filter(F.col("pipeline_id").isin("left", "right"))
    assert ev.agg(F.sum("events_in")).first()[0] == n


def test_scd2_and_patch_apply_retry_through_conflict(spark, tmp_path, monkeypatch):
    """The Type-2 history sink and the partial-update sink share the
    merge path's optimistic-concurrency contract: a lost commit CAS with
    conflict_retries re-runs the batch and applies cleanly."""
    from pyspark.sql import types as T

    from digital_analytics_data_platform_spark.operators.patch import PatchTable
    from digital_analytics_data_platform_spark.operators.scd2 import Scd2Table
    from tests.conftest import TRANSCRIPT_SCHEMA

    real_commit = LakeTable.commit

    def flaky_commit_once(counter):
        def _commit(self, **kw):
            if counter["n"] == 0:
                counter["n"] = 1
                raise CommitConflict("simulated race")
            return real_commit(self, **kw)

        return _commit

    st = Scd2Table.create(
        str(tmp_path / "hist"), TRANSCRIPT_SCHEMA, ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=4
    )
    c1 = {"n": 0}
    monkeypatch.setattr(LakeTable, "commit", flaky_commit_once(c1))
    st.apply_batch(
        spark, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]), batch_key="b1", conflict_retries=1
    )
    monkeypatch.undo()
    assert c1["n"] == 1
    assert st.current(spark).count() == 1

    log_schema = T.StructType(
        [
            T.StructField("uid", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("a", T.StringType()),
        ]
    )
    pt = PatchTable.create(str(tmp_path / "pt"), log_schema, ["uid"], "lsn", n_buckets=4)
    c2 = {"n": 0}
    monkeypatch.setattr(LakeTable, "commit", flaky_commit_once(c2))
    pt.apply_batch(
        spark,
        spark.createDataFrame([("u1", 1, "x")], log_schema),
        batch_key="b1",
        conflict_retries=1,
    )
    monkeypatch.undo()
    assert c2["n"] == 1
    assert {r["uid"] for r in pt.read(spark).collect()} == {"u1"}


def test_mor_conflict_rebases_without_rerunning_the_batch(spark, make_table, monkeypatch):
    """A MOR loser must NOT recompute/rewrite its delta files: the rebase
    re-reads the head, recomputes bookkeeping, re-offers the SAME files.
    Pinned by counting write_data_files calls (exactly one) across a
    lost CAS, and by both writers' data + ledger entries surviving."""
    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)]),
        batch_key="b1", strategy="mor",
    )

    real_commit = LakeTable.commit
    real_write = LakeTable.write_data_files
    counts = {"commit_races": 0, "writes": 0}

    def counting_write(self, *a, **kw):
        counts["writes"] += 1
        return real_write(self, *a, **kw)

    def racing_commit(self, **kw):
        if counts["commit_races"] == 0 and kw.get("new_files"):
            counts["commit_races"] = 1
            monkeypatch.setattr(LakeTable, "write_data_files", real_write)
            merge_changes(
                spark, tbl, cdc_rows(spark, [("I", "c2", 0, "user", "b", None, 20, 2)]),
                batch_key="b2", strategy="mor",
            )
            monkeypatch.setattr(LakeTable, "write_data_files", counting_write)
        return real_commit(self, **kw)

    monkeypatch.setattr(LakeTable, "write_data_files", counting_write)
    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    res = merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c3", 0, "user", "c", None, 30, 3)]),
        batch_key="b3", strategy="mor", conflict_retries=2,
    )
    monkeypatch.undo()
    assert not res.skipped and counts["commit_races"] == 1
    assert counts["writes"] == 1, "MOR conflict loser re-ran its batch write"
    state = {r["conv_id"]: r["text"] for r in tbl.read(spark).collect()}
    assert state == {"c1": "a", "c2": "b", "c3": "c"}
    assert {"b1", "b2", "b3"} <= set(tbl.snapshot().props["ledger"])


def test_mor_conflict_with_duplicate_batch_key_skips_and_cleans_up(
    spark, make_table, monkeypatch
):
    """If ANOTHER writer lands the very same batch_key while we race, the
    rebase turns into a clean skip and our duplicate staged files are
    deleted, not orphaned."""
    import glob

    tbl = make_table()
    batch = cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 1)])

    real_commit = LakeTable.commit
    fired = {"n": 0}

    def racing_commit(self, **kw):
        if fired["n"] == 0 and kw.get("new_files"):
            fired["n"] = 1
            merge_changes(spark, tbl, batch, batch_key="dup", strategy="mor")
        return real_commit(self, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    res = merge_changes(
        spark, tbl, batch, batch_key="dup", strategy="mor", conflict_retries=2
    )
    monkeypatch.undo()
    assert res.skipped and fired["n"] == 1
    assert tbl.read(spark).count() == 1
    # no orphaned duplicate delta files on disk beyond the manifest's
    manifest_files = {f["path"] for f in tbl.snapshot().files}
    on_disk = {
        os.path.relpath(p, tbl.path)
        for p in glob.glob(os.path.join(tbl.path, "data", "**", "*.parquet"), recursive=True)
    }
    assert on_disk <= manifest_files, f"orphans left: {on_disk - manifest_files}"


def test_mor_rebase_merges_concurrent_schema_evolution(spark, make_table, monkeypatch):
    """Two writers evolving DIFFERENT columns race: the loser's rebase
    must re-merge schemas against the fresh head so BOTH new columns
    land, with both writers' values intact."""
    from pyspark.sql import functions as F

    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c0", 0, "user", "seed", None, 5, 1)]),
        batch_key="b0", strategy="mor",
    )

    with_x = cdc_rows(spark, [("I", "c1", 0, "user", "a", None, 10, 2)]).withColumn(
        "x_col", F.lit(7).cast("long")
    )
    with_y = cdc_rows(spark, [("I", "c2", 0, "user", "b", None, 20, 3)]).withColumn(
        "y_col", F.lit("why")
    )

    real_commit = LakeTable.commit
    fired = {"n": 0}

    def racing_commit(self, **kw):
        if fired["n"] == 0 and kw.get("new_files"):
            fired["n"] = 1
            merge_changes(spark, tbl, with_x, batch_key="bx", strategy="mor")
        return real_commit(self, **kw)

    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    res = merge_changes(spark, tbl, with_y, batch_key="by", strategy="mor", conflict_retries=2)
    monkeypatch.undo()
    assert not res.skipped and fired["n"] == 1

    cols = set(tbl.read(spark).columns)
    assert {"x_col", "y_col"} <= cols, f"concurrent evolution lost a column: {cols}"
    rows = {r["conv_id"]: (r["x_col"], r["y_col"]) for r in tbl.read(spark).collect()}
    assert rows["c1"] == (7, None)
    assert rows["c2"] == (None, "why")
    assert rows["c0"] == (None, None)


@pytest.mark.parametrize(
    "race, batch_col, c1_value, physical",
    [
        # a concurrent drop retires the physical column the staged files wrote
        pytest.param("drop", "tool", None, "tool__v2", id="drop"),
        # a concurrent rename only ADDS a mapping entry, yet it rebinds the
        # batch's `label` from a fresh physical column to the renamed `tool`
        pytest.param("rename", "label", "browser", "tool", id="rename"),
    ],
)
def test_mor_rebase_falls_back_on_concurrent_column_mapping_change(
    spark, make_table, monkeypatch, race, batch_col, c1_value, physical
):
    """A MOR loser's staged files bound logical→physical names against the
    STALE snapshot's column_mapping. If the lost CAS was a concurrent
    drop_column, re-offering those files would write into the
    just-retired physical column (silently invisible); if it was a
    rename onto the batch's column name, they would fork that logical
    name across two physical columns. The rebase must detect any mapping
    change and fall back to the full re-run — after which the batch's
    values land in the physical column the logical name binds to now."""
    import glob

    tbl = make_table()
    merge_changes(
        spark, tbl, cdc_rows(spark, [("I", "c1", 0, "tool", "a", "browser", 10, 1)]),
        batch_key="b1", strategy="mor",
    )

    real_commit = LakeTable.commit
    real_write = LakeTable.write_data_files
    counts = {"races": 0, "writes": 0}

    def counting_write(self, *a, **kw):
        counts["writes"] += 1
        return real_write(self, *a, **kw)

    def racing_commit(self, **kw):
        if counts["races"] == 0 and kw.get("new_files"):
            counts["races"] = 1
            if race == "drop":
                tbl.drop_column("tool")
            else:
                tbl.rename_column("tool", "label")
        return real_commit(self, **kw)

    batch = cdc_rows(spark, [("I", "c2", 0, "tool", "b", "terminal", 20, 2)]).withColumnRenamed("tool", batch_col)
    monkeypatch.setattr(LakeTable, "write_data_files", counting_write)
    monkeypatch.setattr(LakeTable, "commit", racing_commit)
    res = merge_changes(spark, tbl, batch, batch_key="b2", strategy="mor", conflict_retries=2)
    monkeypatch.undo()
    assert not res.skipped and counts["races"] == 1
    assert counts["writes"] == 2, "mapping change must force the full re-run, not a rebase"

    snap = tbl.snapshot()
    assert snap.physical_of(batch_col) == physical, snap.mapping()
    out = tbl.read(spark)
    assert out.columns.count(batch_col) == 1, out.columns
    vals = {r["conv_id"]: r[batch_col] for r in out.select("conv_id", batch_col).collect()}
    assert vals["c2"] == "terminal", "batch value invisible (landed in a stale physical column)"
    assert vals["c1"] == c1_value

    # the abandoned first-attempt files were deleted, not orphaned
    manifest_files = {f["path"] for f in snap.files}
    on_disk = {
        os.path.relpath(p, tbl.path)
        for p in glob.glob(os.path.join(tbl.path, "data", "**", "*.parquet"), recursive=True)
    }
    assert on_disk <= manifest_files, f"orphans left: {on_disk - manifest_files}"
