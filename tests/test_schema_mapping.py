"""Metadata-only column rename / drop (full schema evolution — the
Iceberg field-ID surface on top of the existing additive widening).

Contract under test: the snapshot schema is the PHYSICAL layout (never
rewritten, names never reused); ``column_mapping`` props carry the
logical view. Reads, changelogs and merges speak logical; writers and
maintenance run physical. Key/order columns are refused (the table's
identity). Re-adding a dropped name binds a FRESH physical column, so
old values never resurrect; renamed-away old names stay ALIASES of
their physical column, so late in-flight events keep landing correctly.
"""

import pytest
from pyspark.sql import functions as F

from digital_analytics_data_platform_spark.lake.merge import compact, merge_changes
from tests.conftest import cdc_rows


def _texts(tbl, spark, col="text"):
    return {
        (r["conv_id"], r["turn_idx"]): r[col]
        for r in tbl.read(spark).select("conv_id", "turn_idx", col).collect()
    }


def test_rename_is_metadata_only_and_reads_old_data(spark, make_table):
    tbl = make_table("ren")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "hello", None, 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    files_before = [f["path"] for f in tbl.snapshot().files]
    tbl.rename_column("text", "content")
    assert [f["path"] for f in tbl.snapshot().files] == files_before, "rename rewrote files"

    df = tbl.read(spark)
    assert "content" in df.columns and "text" not in df.columns
    assert df.filter(F.col("conv_id") == "c1").first()["content"] == "hello"
    # physical schema unchanged — files still carry 'text'
    assert "text" in tbl.snapshot().schema().fieldNames()


def test_merge_after_rename_binds_new_and_old_names(spark, make_table):
    tbl = make_table("ren2")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "v1", None, 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.rename_column("text", "content")

    # new logical name binds to the renamed column
    new_batch = cdc_rows(spark, [("U", "c1", 0, "user", "v2", None, 20, 2)]).withColumnRenamed(
        "text", "content"
    )
    merge_changes(spark, tbl, new_batch, batch_key="b1", strategy="mor")
    assert _texts(tbl, spark, "content")[("c1", 0)] == "v2"

    # late in-flight event still using the OLD name lands in the SAME
    # column (alias semantic — a mid-stream rename must not fork data)
    old_name_batch = cdc_rows(spark, [("U", "c1", 0, "user", "v3", None, 30, 3)])
    merge_changes(spark, tbl, old_name_batch, batch_key="b2", strategy="mor")
    assert _texts(tbl, spark, "content")[("c1", 0)] == "v3"
    # and no new column was created
    live = set(tbl.read(spark).columns)
    assert "text" not in live and "text__v2" not in live


def test_drop_hides_column_and_readd_never_resurrects(spark, make_table):
    tbl = make_table("drop")
    merge_changes(
        spark, tbl,
        cdc_rows(spark, [("U", "c1", 0, "tool", "x", "browser", 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.drop_column("tool")
    assert "tool" not in tbl.read(spark).columns

    # re-add by feeding batches that carry 'tool' again → fresh physical
    merge_changes(
        spark, tbl,
        cdc_rows(spark, [("U", "c2", 0, "tool", "y", "terminal", 20, 2)]),
        batch_key="b1", strategy="mor",
    )
    df = tbl.read(spark)
    assert "tool" in df.columns
    vals = {r["conv_id"]: r["tool"] for r in df.select("conv_id", "tool").collect()}
    assert vals["c2"] == "terminal"
    assert vals["c1"] is None, "dropped value resurrected through re-added column"
    # fresh physical column underneath; old physical retained in schema
    snap = tbl.snapshot()
    assert snap.physical_of("tool") == "tool__v2"
    assert "tool" in snap.schema().fieldNames()


def test_key_and_order_columns_are_refused(spark, make_table):
    tbl = make_table("refuse")
    for col in ("conv_id", "turn_idx", "ts", "lsn"):
        with pytest.raises(ValueError, match="key/order"):
            tbl.rename_column(col, "zzz")
        with pytest.raises(ValueError, match="key/order"):
            tbl.drop_column(col)
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("text", "role")
    with pytest.raises(KeyError):
        tbl.rename_column("nope", "x")


def test_compaction_preserves_logical_view(spark, make_table):
    tbl = make_table("cmpct")
    for i in range(3):
        merge_changes(
            spark, tbl,
            cdc_rows(spark, [("U", f"c{i}", 0, "user", f"t{i}", None, 10 + i, i + 1)]),
            batch_key=f"b{i}", strategy="mor",
        )
    tbl.rename_column("text", "content")
    before = _texts(tbl, spark, "content")
    compact(spark, tbl)
    after = _texts(tbl, spark, "content")
    assert before == after == {("c0", 0): "t0", ("c1", 0): "t1", ("c2", 0): "t2"}
    # compaction rewrote PHYSICAL layout — mapping still applies
    assert "content" in tbl.read(spark).columns
    assert "text" in tbl.snapshot().schema().fieldNames()


def test_changelog_across_rename_uses_current_names(spark, make_table):
    tbl = make_table("cl")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "v1", None, 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    v0 = tbl.snapshot().version
    tbl.rename_column("text", "content")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "v2", None, 20, 2)]),
        batch_key="b1", strategy="mor",
    )
    # image changelog: both struct sides carry current names
    cl = tbl.read_changelog(spark, since_version=v0).first()
    assert "content" in cl["after"].asDict() and "text" not in cl["after"].asDict()
    assert cl["_change_type"] == "update"
    assert cl["before"]["content"] == "v1" and cl["after"]["content"] == "v2"
    # projected changelog accepts the logical name
    cl2 = tbl.read_changelog(spark, since_version=v0, columns=["content"]).first()
    assert cl2["after"]["content"] == "v2"
    with pytest.raises(ValueError, match="not in table schema"):
        tbl.read_changelog(spark, since_version=v0, columns=["text"])


def test_changelog_after_drop_and_readd(spark, make_table):
    """A batch writing a dropped name RE-ADDS it as a fresh column; the
    changelog's before-image must show null for it (the old physical
    value never resurrects), and a projection onto untouched columns
    must classify the redelivery as no-change."""
    tbl = make_table("cldrop")
    merge_changes(
        spark, tbl,
        cdc_rows(spark, [("U", "c1", 0, "user", "same", "browser", 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.drop_column("tool")
    v0 = tbl.snapshot().version
    merge_changes(
        spark, tbl,
        cdc_rows(spark, [("U", "c1", 0, "user", "same", "terminal", 20, 2)]),
        batch_key="b1", strategy="mor",
    )
    cl = tbl.read_changelog(spark, since_version=v0).first()
    assert cl["_change_type"] == "update"
    assert cl["before"]["tool"] is None, "dropped physical value resurfaced in the before-image"
    assert cl["after"]["tool"] == "terminal"
    # projected onto an unchanged column, the redelivery is not a change
    proj = tbl.read_changelog(spark, since_version=v0, columns=["text"]).collect()
    assert proj == [], f"payload-unchanged redelivery leaked through projection: {proj}"


def test_pruning_params_speak_logical_names(spark, make_table):
    tbl = make_table("prune", props={"bloom_cols": ["conv_id"]})
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "v", None, 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.rename_column("text", "content")
    # unknown (old) name raises; key-col params still work
    with pytest.raises(KeyError, match="unknown column"):
        tbl.read(spark, stats_range={"text": (None, None)})
    got = tbl.read(spark, bloom_eq={"conv_id": "c1"}).count()
    assert got == 1
    assert tbl.read_point(spark, "c1").first()["content"] == "v"


def test_replace_full_and_reconcile_speak_logical(spark, make_table):
    """The full-rebuild and window-reconcile paths translate incoming
    logical-named frames exactly like MERGE does."""
    import datetime

    from digital_analytics_data_platform_spark.lake.merge import (
        reconcile_backfill,
        replace_full,
    )

    tbl = make_table("rfrc")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "v1", None, 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.rename_column("text", "content")

    rebuilt = cdc_rows(spark, [("U", "c1", 0, "user", "rebuilt", None, 10, 1)]).withColumnRenamed(
        "text", "content"
    )
    replace_full(spark, tbl, rebuilt, batch_key="rf")
    assert _texts(tbl, spark, "content")[("c1", 0)] == "rebuilt"

    window = cdc_rows(spark, [("U", "c1", 0, "user", "reconciled", None, 15, 9)]).withColumnRenamed(
        "text", "content"
    )
    start = datetime.datetime(2026, 1, 1, 0, 0, 0)
    end = datetime.datetime(2026, 1, 1, 1, 0, 0)
    reconcile_backfill(spark, tbl, window, start, end, batch_key="rc")
    assert _texts(tbl, spark, "content")[("c1", 0)] == "reconciled"


def test_rename_back_restores_identity_mapping(spark, make_table):
    tbl = make_table("renback")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "user", "v", None, 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.rename_column("text", "content")
    tbl.rename_column("content", "text")
    assert tbl.snapshot().mapping() == {}
    assert tbl.read(spark).first()["text"] == "v"


def test_replace_full_after_drop_readd_commits_mapping(spark, make_table):
    """r4 ADVICE (medium): replace_full discarded _to_physical_batch's
    mapping_update, so a rebuild re-adding a dropped logical column lost
    the fresh-physical binding — reads exposed the raw physical name and
    the NEXT merge forked the logical column into yet another physical.
    The mapping additions must ride the rebuild's commit."""
    from digital_analytics_data_platform_spark.lake.merge import replace_full

    tbl = make_table("rfdrop")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "tool", "x", "browser", 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.drop_column("tool")

    rebuilt = cdc_rows(spark, [("U", "c1", 0, "tool", "x2", "terminal", 20, 2)])
    replace_full(spark, tbl, rebuilt, batch_key="rf")

    snap = tbl.snapshot()
    assert snap.physical_of("tool") == "tool__v2", snap.mapping()
    cols = set(tbl.read(spark).columns)
    assert "tool" in cols and not any(c.startswith("tool__v") for c in cols), cols
    assert tbl.read(spark).first()["tool"] == "terminal"

    # subsequent MERGE binds the SAME physical column — no tool__v3 fork
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "tool", "x3", "editor", 30, 3)]),
        batch_key="b1", strategy="mor",
    )
    assert tbl.snapshot().physical_of("tool") == "tool__v2"
    assert tbl.read(spark).first()["tool"] == "editor"


def test_reconcile_after_drop_readd_commits_mapping(spark, make_table):
    """Same contract for the window-reconcile path."""
    import datetime

    from digital_analytics_data_platform_spark.lake.merge import reconcile_backfill

    tbl = make_table("rcdrop")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "tool", "x", "browser", 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.drop_column("tool")

    window = cdc_rows(spark, [("U", "c1", 0, "tool", "x2", "terminal", 15, 9)])
    start = datetime.datetime(2026, 1, 1, 0, 0, 0)
    end = datetime.datetime(2026, 1, 1, 1, 0, 0)
    reconcile_backfill(spark, tbl, window, start, end, batch_key="rc")

    snap = tbl.snapshot()
    assert snap.physical_of("tool") == "tool__v2", snap.mapping()
    assert tbl.read(spark).first()["tool"] == "terminal"

    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "tool", "x3", "editor", 30, 3)]),
        batch_key="b1", strategy="mor",
    )
    assert tbl.snapshot().physical_of("tool") == "tool__v2"
    assert tbl.read(spark).first()["tool"] == "editor"


def test_reconcile_empty_window_still_commits_mapping(spark, make_table):
    """Edge of the same contract: an empty corrected feed whose SCHEMA
    re-adds a dropped column takes the ledger-only early exit (no
    affected buckets) — the fresh-physical mapping allocated from the
    batch schema must still ride that commit, so the next merge binds
    the same physical column instead of allocating another."""
    import datetime

    from digital_analytics_data_platform_spark.lake.merge import reconcile_backfill

    tbl = make_table("rcempty")
    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "tool", "x", "browser", 10, 1)]),
        batch_key="b0", strategy="mor",
    )
    tbl.drop_column("tool")

    empty = cdc_rows(spark, [("U", "c9", 0, "tool", "z", "zz", 10, 9)]).filter(F.lit(False))
    start = datetime.datetime(2027, 1, 1, 0, 0, 0)
    end = datetime.datetime(2027, 1, 2, 0, 0, 0)
    res = reconcile_backfill(spark, tbl, empty, start, end, batch_key="rc-empty")
    assert res.strategy == "reconcile"
    assert tbl.snapshot().physical_of("tool") == "tool__v2", tbl.snapshot().mapping()

    merge_changes(
        spark, tbl, cdc_rows(spark, [("U", "c1", 0, "tool", "x2", "editor", 30, 3)]),
        batch_key="b1", strategy="mor",
    )
    assert tbl.snapshot().physical_of("tool") == "tool__v2"
    assert tbl.read(spark).first()["tool"] == "editor"
