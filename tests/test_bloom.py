"""Per-file bloom filters (table prop `bloom_cols`) — the Parquet
split-block / Paimon file-index analog for point-lookup file skipping
on hash-distributed string keys, where per-file min/max stats are
uselessly wide inside a bucket. Contracts: pruned point reads are
value-identical to unpruned reads (skipping is conservative), actually
skip files, saturated blooms are omitted (file kept), and non-string
columns never get blooms. The point-read path's driver-side bucket
evaluator is pinned here to Spark's xxhash64, as the bloom probe is to
Spark's crc32."""

import datetime
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T

from digital_analytics_data_platform_spark.lake import LakeTable, merge_changes
from digital_analytics_data_platform_spark.lake.table import (
    _BLOOM_M_DEFAULT,
    _bloom_might_contain,
    _blooms_intersect,
    _driver_xxhash64,
    bucket_of,
    bucket_of_value,
    keys_bloom,
)
from tests.conftest import TRANSCRIPT_SCHEMA, cdc_rows


def _make_bloom_table(make_table, name, **props):
    return make_table(name, n_buckets=2, props={"bloom_cols": ["conv_id"], **props})


def _batches(spark, tbl, n_batches=4, convs_per_batch=30, strategy="mor"):
    """Disjoint conv sets per batch → under MOR, many files per bucket,
    each holding different keys (the delta-file shape blooms exist for)."""
    for b in range(n_batches):
        rows = [
            ("U", f"conv_{b:02d}_{i:03d}", t, "user", f"m{b}/{i}/{t}", None, b * 600 + i, b * 1000 + i * 3 + t)
            for i in range(convs_per_batch)
            for t in range(3)
        ]
        merge_changes(spark, tbl, cdc_rows(spark, rows), batch_key=f"b{b}", strategy=strategy)


def _jobs_run(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran, counted by
    a fresh job group through the status tracker."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bloom_point_read_prunes_files_and_stays_exact(spark, make_table):
    tbl = _make_bloom_table(make_table, "bloom1")
    _batches(spark, tbl)
    snap = tbl.snapshot()
    assert all(f.get("bloom_conv_id") for f in snap.files), "every delta file blooms"

    total_files = len(snap.files)
    target = "conv_01_007"
    full = tbl.read(spark)
    pruned = tbl.read(spark, bloom_eq={"conv_id": target})

    expect = sorted(map(tuple, full.filter(F.col("conv_id") == target).collect()))
    got = sorted(map(tuple, pruned.filter(F.col("conv_id") == target).collect()))
    assert got == expect and len(got) == 3  # exactness: no version lost

    scanned = len(pruned.inputFiles())
    assert scanned < total_files, f"bloom pruned nothing ({scanned}/{total_files})"
    # the target lives in exactly one batch → one file per (batch,
    # bucket) pair can hold it; everything else kept is a false
    # positive, bounded well below the full manifest
    assert scanned <= total_files // 2


def test_bloom_absent_key_reads_near_zero_files(spark, make_table):
    tbl = _make_bloom_table(make_table, "bloom2")
    _batches(spark, tbl, n_batches=3)
    total = len(tbl.snapshot().files)
    pruned = tbl.read(spark, bloom_eq={"conv_id": "conv_nope_999"})
    assert pruned.filter(F.col("conv_id") == "conv_nope_999").count() == 0
    # only false positives survive: at n≈90 keys/file and m=32768 the
    # per-file FP rate is ~0.3%, so virtually always zero files remain
    assert len(pruned.inputFiles()) < total


def test_bloom_saturated_files_omit_bloom_and_are_kept(spark, make_table):
    # m=128 → cutoff at 32 rows/file; 90 rows/bucket saturates it
    tbl = _make_bloom_table(make_table, "bloom3", bloom_m=128)
    _batches(spark, tbl, n_batches=1, convs_per_batch=60)
    snap = tbl.snapshot()
    assert all("bloom_conv_id" not in f for f in snap.files), "saturated blooms dropped"
    pruned = tbl.read(spark, bloom_eq={"conv_id": "conv_00_000"})
    assert len(pruned.inputFiles()) == len(snap.files)  # conservative: keep all
    assert pruned.filter(F.col("conv_id") == "conv_00_000").count() == 3


def test_bloom_non_string_columns_are_never_bloomed(spark, make_table):
    tbl = make_table("bloom4", n_buckets=2, props={"bloom_cols": ["turn_idx", "conv_id"]})
    _batches(spark, tbl, n_batches=1)
    snap = tbl.snapshot()
    assert all("bloom_turn_idx" not in f for f in snap.files)
    assert all(f.get("bloom_conv_id") for f in snap.files)
    # probing an un-bloomed column keeps every file (conservative)
    pruned = tbl.read(spark, bloom_eq={"turn_idx": 1})
    assert len(pruned.inputFiles()) == len(snap.files)


def test_bloom_probe_matches_spark_crc32_layout(spark):
    """Pin the bitmap layout + hash parity the driver-side probe relies
    on: Spark's bitmap_construct_agg(bit_position(pmod(crc32(s), m)+1))
    sets exactly the bit zlib.crc32(s) % m in LSB-first byte order."""
    keys = [f"conv_{i}" for i in range(50)]
    df = spark.createDataFrame([(k,) for k in keys], "conv_id string")
    m = _BLOOM_M_DEFAULT
    b64 = df.agg(
        F.base64(
            F.bitmap_construct_agg(
                F.bitmap_bit_position(F.pmod(F.crc32(F.col("conv_id").cast("binary")), F.lit(m)) + 1)
            )
        ).alias("bm")
    ).collect()[0]["bm"]
    assert all(_bloom_might_contain(b64, k, m) for k in keys)
    misses = sum(_bloom_might_contain(b64, f"other_{i}", m) for i in range(500))
    assert misses <= 3  # FP ~ 50/32768 per probe


def test_bucket_of_value_matches_spark_xxhash64(spark):
    """Pin the driver-side bucket evaluator to Spark's: the same bucket
    under bucket_of, at 16 and 64 buckets. Strings of each XXH64 length
    regime (empty, < 4, < 8, 31/32/33 bytes, > 64) and multi-byte UTF-8,
    and nulls (which Spark hashes as the seed), are hashed on the driver
    and must also equal Spark's xxhash64; the integral types at their
    extremes and dates take the one-literal JVM evaluation."""
    cases = {
        T.StringType(): [
            "", "a", "abc", "conv_00000042", "x" * 31, "y" * 32, "z" * 33, "q" * 77, "é" * 50,
            "ünïcödé", "数据湖", "🎉🚀", "mixed ☃ text " * 7, None,
        ],
        T.ByteType(): [-128, -1, 0, 1, 127, None],
        T.ShortType(): [-32768, -1, 0, 32767, None],
        T.IntegerType(): [-(2**31), -1, 0, 1, 123456789, 2**31 - 1, None],
        T.LongType(): [-(2**63), -1, 0, 1, 2**40 + 7, 2**63 - 1, None],
        T.DateType(): [
            datetime.date(1, 1, 1), datetime.date(1969, 12, 31), datetime.date(1970, 1, 1),
            datetime.date(2026, 3, 15), datetime.date(9999, 12, 31), None,
        ],
    }
    for dtype, values in cases.items():
        df = spark.createDataFrame([(v,) for v in values], T.StructType([T.StructField("k", dtype)]))
        got = df.select(
            F.xxhash64("k").alias("h"), bucket_of("k", 16).alias("b16"), bucket_of("k", 64).alias("b64")
        ).collect()
        for v, r in zip(values, got):
            h = _driver_xxhash64(v, dtype)
            assert h == r["h"] if v is None or dtype == T.StringType() else h is None, (dtype, v)
            assert bucket_of_value(spark, v, dtype, 16) == r["b16"], (dtype, v)
            assert bucket_of_value(spark, v, dtype, 64) == r["b64"], (dtype, v)


def test_read_point_serving_path(spark, make_table, tmp_path):
    """read_point composes bucket derivation + bloom skip + predicate:
    exact rows for one conversation, scanning a small slice of files.
    The bucket of a string key is derived on the driver, so on a
    copy-on-write table the lookup runs exactly one Spark job: its
    pruned read."""
    tbl = _make_bloom_table(make_table, "bloom5")
    _batches(spark, tbl)
    snap = tbl.snapshot()
    target = "conv_02_011"
    got = tbl.read_point(spark, target)
    rows = sorted(map(tuple, got.collect()))
    assert rows == sorted(map(tuple, tbl.read(spark).filter(F.col("conv_id") == target).collect()))
    assert sorted(r[1] for r in rows) == [0, 1, 2]
    # scans at most the target bucket's bloom survivors
    assert len(got.inputFiles()) < len(snap.files) // 2

    # works on a merge-on-read table without blooms too (bucket + stats
    # pruning, then the collapse)
    plain = make_table("bloom5_plain", n_buckets=2)
    _batches(spark, plain, n_batches=2)
    got2 = plain.read_point(spark, "conv_01_003").collect()
    expect = plain.read(spark).filter(F.col("conv_id") == "conv_01_003").collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, expect)) and len(got2) == 3

    # on a copy-on-write table the lookup is exactly one job
    cow = make_table("bloom5_cow", n_buckets=2)
    _batches(spark, cow, n_batches=2, strategy="cow")
    rows3, jobs = _jobs_run(spark, lambda: cow.read_point(spark, "conv_01_003").collect())
    assert jobs == 1
    expect = cow.read(spark).filter(F.col("conv_id") == "conv_01_003").collect()
    assert sorted(map(tuple, rows3)) == sorted(map(tuple, expect)) and len(rows3) == 3

    # a key type without a driver evaluator goes through the JVM fallback
    schema = T.StructType(
        [T.StructField("k", T.DoubleType()), T.StructField("v", T.StringType()), T.StructField("lsn", T.LongType())]
    )
    dbl = LakeTable.create(str(tmp_path / "dbl_key"), schema, ["k"], ["lsn"], n_buckets=4)
    batch = spark.createDataFrame(
        [("U", i / 4, f"v{i}", i, 0) for i in range(12)], "op string, k double, v string, lsn long, commit_lsn long"
    )
    merge_changes(spark, dbl, batch, batch_key="d1")
    assert _driver_xxhash64(1.25, T.DoubleType()) is None
    assert [tuple(r) for r in dbl.read_point(spark, 1.25).collect()] == [(1.25, "v5", 5)]


# ---------------------------------------------------------------------------
# keyset-bloom (set-intersection) file skipping — prunes the changed-key
# table reads inside read_changelog / IVM dirty recompute


def test_keys_bloom_never_misses_a_file_holding_a_key(spark, make_table):
    """No-false-negative property of the intersection test: any file
    whose own bloom admits a key must intersect a keyset bloom that
    includes the key (actual containment ⇒ might_contain ⇒ intersect)."""
    tbl = _make_bloom_table(make_table, "kb1")
    _batches(spark, tbl)
    snap = tbl.snapshot()
    m = _BLOOM_M_DEFAULT
    probe_keys = ["conv_01_007", "conv_02_003", "conv_00_000"]
    keyset = keys_bloom(
        spark.createDataFrame([(k,) for k in probe_keys], "conv_id string"), "conv_id"
    )
    assert keyset is not None
    for f in snap.files:
        if any(_bloom_might_contain(f["bloom_conv_id"], k, m) for k in probe_keys):
            assert _blooms_intersect(f["bloom_conv_id"], keyset)
    # an absent-key keyset prunes (almost) everything
    ghost = keys_bloom(spark.createDataFrame([("conv_zz_999",)], "conv_id string"), "conv_id")
    survivors = sum(_blooms_intersect(f["bloom_conv_id"], ghost) for f in snap.files)
    assert survivors <= len(snap.files) // 2


def test_blooms_intersect_width_mismatch_is_conservative():
    import base64

    a = base64.b64encode(bytes(16)).decode()
    b = base64.b64encode(bytes(32)).decode()
    assert _blooms_intersect(a, b)  # incomparable widths → keep the file
    zero = base64.b64encode(bytes(16)).decode()
    assert not _blooms_intersect(zero, zero)  # provably disjoint


def test_keys_bloom_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "conv_id string")
    ints = spark.createDataFrame([(1,)], "turn_idx int")
    assert keys_bloom(ints, "turn_idx") is None  # non-string: no parity
    kb = keys_bloom(empty, "conv_id")
    # empty frame: either no bitmap (None) or an all-zero bitmap — both
    # are safe for a consumer whose semi-join would drop every row anyway
    if kb is not None:
        import base64

        assert not any(base64.b64decode(kb))


def test_changed_key_reads_are_keyset_bloom_pruned_and_exact(spark, make_table):
    """read_changelog over a window touching only one batch's
    conversations: identical output on a bloomed vs bloomless table,
    strictly fewer files scanned on the bloomed one (the carried MOR
    delta tail from unrelated batches is skipped)."""
    blo = _make_bloom_table(make_table, "kb2")
    ctl = make_table("kb2_ctl", n_buckets=2)
    for t in (blo, ctl):
        _batches(spark, t, n_batches=4)
    since = {id(t): t.snapshot().version for t in (blo, ctl)}
    window = [
        ("U", f"conv_01_{i:03d}", 0, "user", f"upd{i}", None, 5000 + i, 10_000 + i)
        for i in range(5)
    ] + [("D", "conv_01_006", 1, None, None, None, 6000, 20_000)]
    for t in (blo, ctl):
        merge_changes(spark, t, cdc_rows(spark, window), batch_key="w", strategy="mor")

    def rows(df):
        cols = [F.col(c) for c in ("conv_id", "turn_idx", "_change_type")]
        extra = [F.to_json(F.col(c)) for c in ("before", "after") if c in df.columns]
        return sorted(map(tuple, df.select(*cols, *extra).collect()))

    dfs = {id(t): t.read_changelog(spark, since_version=since[id(t)]) for t in (blo, ctl)}
    assert rows(dfs[id(blo)]) == rows(dfs[id(ctl)])
    assert rows(dfs[id(blo)]), "window must be non-empty"
    n_blo, n_ctl = len(dfs[id(blo)].inputFiles()), len(dfs[id(ctl)].inputFiles())
    assert n_blo < n_ctl, f"bloom pruned nothing ({n_blo}/{n_ctl})"


def test_read_point_prunes_clustered_compacted_layout_via_key_stats(spark, make_table):
    """Post-compaction files are big enough to saturate their bloom
    budget, but a key-clustered compaction leaves sliver-narrow per-file
    key min/max stats — read_point's equality stats_range must skip the
    non-overlapping slivers, exactly (no version lost)."""
    from digital_analytics_data_platform_spark.lake import compact

    # no bloom_cols at all: stats must carry the pruning alone
    tbl = make_table("bloomless_clustered", n_buckets=2)
    _batches(spark, tbl, n_batches=4, convs_per_batch=30)
    compact(spark, tbl, cluster_by=["conv_id"], write_salt=4)
    snap = tbl.snapshot()
    assert all("bloom_conv_id" not in f for f in snap.files)
    per_bucket = max(
        sum(1 for f in snap.files if f["bucket"] == b) for b in {f["bucket"] for f in snap.files}
    )
    assert per_bucket >= 3, "need multiple slivers per bucket for the test to mean anything"

    target = "conv_02_011"
    got = tbl.read_point(spark, target)
    rows = got.collect()
    assert sorted(r.turn_idx for r in rows) == [0, 1, 2]
    # scanned strictly fewer files than the target bucket holds
    assert len(got.inputFiles()) < per_bucket
