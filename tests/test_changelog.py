"""Exact before/after-image changelog (`LakeTable.read_changelog`) —
the Delta CDF `update_preimage`/`update_postimage` analog (Iceberg
`create_changelog_view` with compute-updates), folded to one row per
changed key. Contract under test: ops classify as insert/update/delete
with true row images, no-op rewrites (compaction/clustering/rescale)
produce an EMPTY changelog, rewrites that drop keys physically (reconcile,
retention, rollback) emit them as deletes, schema evolution surfaces in
old images as nulls, and the flat order columns carry the change event's
own position (a delete rides at its tombstone's (ts, lsn), not its
before-image's)."""

from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from digital_analytics_data_platform_spark.lake import compact, merge_changes
from digital_analytics_data_platform_spark.lake.merge import (
    delete_where, reconcile_backfill, rescale_buckets, retention_truncate,
)
from digital_analytics_data_platform_spark.lake.table import file_diff
from digital_analytics_data_platform_spark.plans.ivm import IncrementalRollup
from digital_analytics_data_platform_spark.sources import debezium
from digital_analytics_data_platform_spark.streaming import relay_changes
from tests.conftest import cdc_rows


def _clog(spark, tbl, v_from, v_to):
    rows = tbl.read_changelog(spark, since_version=v_from, until_version=v_to).collect()
    return {(r.conv_id, r.turn_idx): r for r in rows}


def test_changelog_insert_update_delete(spark, make_table):
    tbl = make_table("clog1", n_buckets=4)
    b1 = cdc_rows(
        spark,
        [
            ("U", "c1", 0, "user", "hi", None, 0, 1),
            ("U", "c1", 1, "asst", "yo", None, 0, 2),
            ("U", "c2", 0, "user", "aa", None, 0, 3),
        ],
    )
    merge_changes(spark, tbl, b1, batch_key="b1", strategy="mor")
    v1 = tbl.snapshot().version

    b2 = cdc_rows(
        spark,
        [
            ("U", "c1", 1, "asst", "yo-edited", None, 60, 4),  # update
            ("U", "c3", 0, "user", "new", None, 60, 5),  # insert
            ("D", "c2", 0, None, None, None, 60, 6),  # delete
        ],
    )
    merge_changes(spark, tbl, b2, batch_key="b2", strategy="mor")
    v2 = tbl.snapshot().version

    # changelog from v0 (genesis) is all inserts
    genesis = _clog(spark, tbl, 0, v1)
    assert {r._change_type for r in genesis.values()} == {"insert"}
    assert all(r.before is None for r in genesis.values())

    by_key = _clog(spark, tbl, v1, v2)
    assert {k: r._change_type for k, r in by_key.items()} == {
        ("c1", 1): "update",
        ("c3", 0): "insert",
        ("c2", 0): "delete",
    }
    upd = by_key[("c1", 1)]
    assert upd.before.text == "yo" and upd.after.text == "yo-edited"
    assert upd.before.lsn == 2 and upd.after.lsn == 4
    ins = by_key[("c3", 0)]
    assert ins.before is None and ins.after.text == "new"
    del_ = by_key[("c2", 0)]
    assert del_.after is None and del_.before.text == "aa"
    # the flat order cols are the CHANGE's position: the tombstone's
    # lsn (6), not the before-image's (3)
    assert del_.lsn == 6 and del_.before.lsn == 3
    assert upd.lsn == 4 and ins.lsn == 5


def test_changelog_exact_across_noop_rewrites(spark, make_table):
    tbl = make_table("clog2", n_buckets=4)
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", f"c{i}", 0, "user", f"t{i}", None, 0, i + 1) for i in range(20)]),
        batch_key="b1",
        strategy="mor",
    )
    # second MOR batch re-asserting identical values for half the keys:
    # a later writer wins LWW but the state is value-identical
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", f"c{i}", 0, "user", f"t{i}", None, 60, 100 + i) for i in range(10)]),
        batch_key="b2",
        strategy="mor",
    )
    v1 = tbl.snapshot().version
    compact(spark, tbl, all_buckets=True)
    v2 = tbl.snapshot().version

    # compaction rewrites every file, yet nothing changed
    added, removed = file_diff(tbl.snapshot(v1), tbl.snapshot(v2))
    assert added and removed
    assert tbl.read_changelog(spark, since_version=v1, until_version=v2).count() == 0


def test_changelog_same_value_upsert_is_not_a_change(spark, make_table):
    tbl = make_table("clog3", n_buckets=2)
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", "c1", 0, "user", "hi", None, 0, 1)]),
        batch_key="b1",
        strategy="mor",
    )
    v1 = tbl.snapshot().version
    # byte-identical redelivery (same (ts, lsn)): LWW state unchanged
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", "c1", 0, "user", "hi", None, 0, 1)]),
        batch_key="b2",
        strategy="mor",
    )
    v2 = tbl.snapshot().version
    assert tbl.read_changelog(spark, since_version=v1, until_version=v2).count() == 0


def test_changelog_schema_evolution_old_images_null(spark, make_table):
    tbl = make_table("clog4", n_buckets=2)
    base = cdc_rows(spark, [("U", "c1", 0, "user", "hi", None, 0, 1)])
    merge_changes(spark, tbl, base, batch_key="b1", strategy="mor")
    v1 = tbl.snapshot().version

    evolved = cdc_rows(spark, [("U", "c1", 0, "user", "hi2", None, 60, 2)]).withColumn(
        "sentiment", F.lit("positive")
    )
    merge_changes(spark, tbl, evolved, batch_key="b2", strategy="mor")
    v2 = tbl.snapshot().version

    rows = tbl.read_changelog(spark, since_version=v1, until_version=v2).collect()
    assert len(rows) == 1 and rows[0]._change_type == "update"
    # the mid-stream column exists in both images (new snapshot schema);
    # the old image reads it as null
    assert rows[0].before.sentiment is None
    assert rows[0].after.sentiment == "positive"


def test_changelog_across_bucket_rescale(spark, make_table):
    tbl = make_table("clog5", n_buckets=2)
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", f"c{i}", 0, "user", f"t{i}", None, 0, i + 1) for i in range(12)]),
        batch_key="b1",
        strategy="mor",
    )
    v1 = tbl.snapshot().version
    rescale_buckets(spark, tbl, 8)
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", "c3", 0, "user", "t3-edited", None, 60, 100)]),
        batch_key="b2",
        strategy="mor",
    )
    v2 = tbl.snapshot().version

    # window spans a bucket-spec change: old snapshot can't be bucket-
    # pruned, but the changelog must stay exact — the one real edit
    rows = tbl.read_changelog(spark, since_version=v1, until_version=v2).collect()
    assert {(r.conv_id, r.turn_idx, r._change_type) for r in rows} == {("c3", 0, "update")}
    (r,) = rows
    assert r.before.text == "t3" and r.after.text == "t3-edited"


@pytest.mark.parametrize("n_buckets", [4])
def test_changelog_empty_window(spark, make_table, n_buckets):
    tbl = make_table("clog6", n_buckets=n_buckets)
    merge_changes(
        spark,
        tbl,
        cdc_rows(spark, [("U", "c1", 0, "user", "hi", None, 0, 1)]),
        batch_key="b1",
        strategy="mor",
    )
    v = tbl.snapshot().version
    df = tbl.read_changelog(spark, since_version=v, until_version=v)
    assert df.count() == 0
    # schema is stable even for the empty frame
    assert {"before", "after", "_change_type", "conv_id", "turn_idx", "ts", "lsn"} <= set(df.columns)


def test_changelog_column_pruning_is_projected_changelog(spark, make_table):
    """read_changelog(columns=[...]) returns the changelog OF THE
    PROJECTED table: images carry only key/order + requested columns,
    an update confined to a pruned column is not a change, and updates
    visible in the projection match the full changelog's."""
    import pytest as _pytest

    tbl = make_table("clog_prune", n_buckets=2)
    merge_changes(
        spark,
        tbl,
        cdc_rows(
            spark,
            [("U", f"c{i}", 0, "user", f"orig{i}", None, 1, i) for i in range(4)],
        ),
        batch_key="b1",
        strategy="mor",
    )
    since = tbl.snapshot().version
    # c0: text-only update (invisible to a role-projected changelog);
    # c1: role change (visible); c2: delete; c9: insert
    merge_changes(
        spark,
        tbl,
        cdc_rows(
            spark,
            [
                ("U", "c0", 0, "user", "rewritten", None, 9, 100),
                ("U", "c1", 0, "assistant", "orig1", None, 9, 101),
                ("D", "c2", 0, None, None, None, 9, 102),
                ("U", "c9", 0, "tool", "new", None, 9, 103),
            ],
        ),
        batch_key="b2",
        strategy="mor",
    )
    pruned = tbl.read_changelog(spark, since_version=since, columns=["role"])
    assert sorted(pruned.select("before").schema[0].dataType.fieldNames()) == sorted(
        ["conv_id", "turn_idx", "role", "ts", "lsn"]
    )
    got = {r.conv_id: r._change_type for r in pruned.collect()}
    assert got == {"c1": "update", "c2": "delete", "c9": "insert"}  # c0 dropped

    full = tbl.read_changelog(spark, since_version=since)
    fullmap = {r.conv_id: r._change_type for r in full.collect()}
    assert fullmap["c0"] == "update"  # the full view still sees it
    assert {k: v for k, v in fullmap.items() if k != "c0"} == got

    with _pytest.raises(ValueError):
        tbl.read_changelog(spark, since_version=since, columns=["nope"])


def _ts(s):
    return datetime.fromtimestamp(1767225600 + s, tz=timezone.utc).replace(tzinfo=None)


_B1 = [
    ("U", "c1", 0, "user", "hi", None, 10, 1),
    ("U", "c1", 1, "assistant", "yo", None, 20, 2),
    ("U", "c2", 0, "user", "q", None, 30, 3),
    ("U", "c2", 1, "assistant", "a", None, 40, 4),
    ("U", "c2", 2, "user", "q2", None, 50, 5),
    ("U", "c3", 0, "user", "x", None, 60, 6),
]
_B2 = [
    ("U", "c1", 1, "assistant", "yo-edited", None, 100_000, 7),
    ("U", "c3", 1, "assistant", "y", None, 100_010, 8),
    ("U", "c4", 0, "user", "new", None, 100_020, 9),
    ("U", "c4", 1, "assistant", "reply", None, 100_030, 10),
]
_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]


def _rewrite(spark, tbl, case):
    if case == "reconcile_omission":
        # the corrected feed for the b1 window re-asserts c1 and c3 as
        # they are and omits c2: the rewrite drops c2 without a tombstone
        corrected = [r for r in _B1 if r[1] != "c2"]
        reconcile_backfill(spark, tbl, cdc_rows(spark, corrected), _ts(0), _ts(1_000), batch_key="fix")
    elif case in ("retention_metadata", "retention_straddling"):
        res = retention_truncate(spark, tbl, _ts(50_000))
        if case == "retention_metadata":
            assert res["files_rewritten"] == 0 and res["files_dropped"] > 0
        else:
            assert res["files_rewritten"] > 0
    elif case == "delete_where":
        delete_where(spark, tbl, "conv_id = 'c2'", batch_key="gdpr")
    else:
        tbl.rollback(tag="b1")


@pytest.mark.parametrize(
    "case,strategy,images",
    [
        ("reconcile_omission", "cow", False),
        ("retention_metadata", "mor", True),
        ("retention_straddling", "cow", False),
        ("delete_where", "mor", False),
        ("rollback", "mor", True),
    ],
)
def test_changelog_consumers_exact_across_rewrites(spark, make_table, tmp_path, case, strategy, images):
    """Each rewrite that drops or reverts rows physically: an IVM rollup
    and a relay mirror (the decoded wire applied in arrival order, the
    Debezium sink contract) must both equal a recompute of the table."""
    tbl = make_table(f"rw_{case}", n_buckets=4)
    rollup = IncrementalRollup.create(str(tmp_path / f"roll_{case}"), tbl, ["role"], [], n_buckets=2)
    wire, mirror = str(tmp_path / f"wire_{case}"), {}

    def consume():
        rollup.sync(spark, tbl)
        res = relay_changes(spark, tbl, wire, images=images)
        if res.segments:
            # the wire carries lsn as the envelope position, not in the row
            row_schema = T.StructType([f for f in tbl.read(spark).schema.fields if f.name != "lsn"])
            decoded = debezium.decode_envelopes(spark.read.text(res.segments), row_schema)
            for r in decoded.collect():
                if r["op"] == "D":
                    mirror.pop((r["conv_id"], r["turn_idx"]), None)
                else:
                    mirror[(r["conv_id"], r["turn_idx"])] = tuple(r[c] for c in _COLS)
        live = tbl.read(spark)
        assert mirror == {(r["conv_id"], r["turn_idx"]): tuple(r) for r in live.select(*_COLS).collect()}
        mart = {r["role"]: r["cnt"] for r in rollup.read(spark).collect() if r["cnt"]}
        assert mart == {r["role"]: r["count"] for r in live.groupBy("role").count().collect()}

    merge_changes(spark, tbl, cdc_rows(spark, _B1), batch_key="b1", strategy=strategy)
    tbl.set_tag("b1")
    merge_changes(spark, tbl, cdc_rows(spark, _B2), batch_key="b2", strategy=strategy)
    consume()
    _rewrite(spark, tbl, case)
    consume()
