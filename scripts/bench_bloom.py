"""Measure the per-file bloom index payoff: a point lookup ("fetch
conversation X") over a bronze table with many MOR delta files, with
and without bloom file-skipping (`read(bloom_eq=...)`). Reports files
scanned, rows scanned, and wall for both paths plus the state-equality
check. Writes one JSON line; artifact: bench_runs/BLOOM_r04.json.

Env knobs: BLOOM_EVENTS (default 2_000_000), BLOOM_BATCHES (40),
BLOOM_CPUS (8), BLOOM_BUCKETS (16).
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from digital_analytics_data_platform_spark import datagen
from digital_analytics_data_platform_spark.lake import LakeTable, merge_changes
from digital_analytics_data_platform_spark.lake.table import bucket_of_value
from digital_analytics_data_platform_spark.session import get_spark


def main() -> dict:
    events = int(os.environ.get("BLOOM_EVENTS", "2000000"))
    batches = int(os.environ.get("BLOOM_BATCHES", "40"))
    cpus = int(os.environ.get("BLOOM_CPUS", "8"))
    buckets = int(os.environ.get("BLOOM_BUCKETS", "16"))
    spark = get_spark("bench-bloom", master=f"local[{cpus}]", shuffle_partitions=cpus)

    # billions-of-short-conversations shape (the 10^10-scale reality a
    # point lookup serves): each conv gets ~2 events, so any one conv
    # lives in O(1) of its bucket's delta files and blooms can skip the
    # rest. A small-n_convs feed (every conv active in every batch) is
    # the shape blooms can't help — and honestly don't.
    n_convs = max(1000, events // 2)
    log = datagen.change_log(
        spark, events, n_convs=n_convs, turns_per_conv=4, garbage_frac=0.0, hot_key_frac=0.01
    )
    log = log.withColumn("_b", F.pmod(F.col("lsn"), F.lit(batches))).cache()
    log.count()

    d = tempfile.mkdtemp(prefix="bloomlake_")
    tbl = LakeTable.create(
        os.path.join(d, "bronze"),
        log.drop("_b", "op", "commit_lsn").schema,
        ["conv_id", "turn_idx"],
        ["ts", "lsn"],
        n_buckets=buckets,
        props={"bloom_cols": ["conv_id"]},
    )
    t0 = time.monotonic()
    for b in range(batches):
        merge_changes(spark, tbl, log.filter(F.col("_b") == b).drop("_b"), batch_key=f"b{b}", strategy="mor")
    apply_wall = time.monotonic() - t0
    snap = tbl.snapshot()
    total_files = len(snap.files)
    total_rows = sum(f["rows"] for f in snap.files)
    bloomed = sum(1 for f in snap.files if f.get("bloom_conv_id"))

    target = (
        log.filter(F.col("conv_id") != "conv_00000000").select("conv_id").first()["conv_id"]
    )
    # the bucket is derived on the driver with no Spark job, as
    # read_point derives it; bloom's payoff is ON TOP of bucket pruning
    tgt_bucket = bucket_of_value(spark, target, T.StringType(), buckets)

    def point_read(bucket_prune: bool, use_bloom: bool):
        t = time.monotonic()
        df = tbl.read(
            spark,
            buckets=[tgt_bucket] if bucket_prune else None,
            bloom_eq={"conv_id": target} if use_bloom else None,
        )
        out = df.filter(F.col("conv_id") == target)
        rows = sorted(map(tuple, out.collect()))
        wall = time.monotonic() - t
        scanned = {os.path.basename(p) for p in out.inputFiles()}
        nrows = sum(f["rows"] for f in snap.files if os.path.basename(f["path"]) in scanned)
        return rows, wall, len(scanned), nrows

    # warm once (JIT/IO cache), then measure the three tiers
    point_read(False, False)
    tiers = {}
    results = {}
    for name, (bp, ub) in {
        "full_scan": (False, False),
        "bucket_pruned": (True, False),
        "bucket_plus_bloom": (True, True),
    }.items():
        rows, wall, nfiles, nrows = point_read(bp, ub)
        results[name] = rows
        tiers[name] = {"files_scanned": nfiles, "rows_scanned": nrows, "wall_s": round(wall, 2)}

    out = {
        "metric": "bloom-file-index point-lookup payoff",
        "events": events,
        "batches": batches,
        "buckets": buckets,
        "cpus": cpus,
        "total_files": total_files,
        "files_with_bloom": bloomed,
        "apply_wall_s": round(apply_wall, 1),
        "state_identical": len({tuple(map(tuple, r)) for r in results.values()}) == 1,
        **tiers,
        "files_skipped_vs_bucket_pct": round(
            100 * (1 - tiers["bucket_plus_bloom"]["files_scanned"] / max(tiers["bucket_pruned"]["files_scanned"], 1)), 1
        ),
        "speedup_vs_bucket": round(
            tiers["bucket_pruned"]["wall_s"] / max(tiers["bucket_plus_bloom"]["wall_s"], 1e-9), 2
        ),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
