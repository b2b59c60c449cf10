"""Measure the keyset-bloom pruning of the exact-image changelog read.

RELAY_r04.json documented the image relay's residual growth: the
changelog scans every file carried in the touched buckets, so on an
uncompacted MOR tail the tick wall grows with tail length even when
each tick's change window is narrow. The keyset-bloom tier inside
`read_changelog` (`keys_bloom` over the window's added and removed
files, intersected with each carried file's bloom) skips carried tail
files that provably hold none of the window's keys — this script
measures that growth term directly.

Workload: the sustained streaming shape — BATCHES small micro-batches
(each small enough that every file keeps its bloom: rows/file ≤ m/4),
each touching a narrow conversation window (half updates to a stable
working set from tick 0, half brand-new convs, with datagen's I/U/D
mix), applied MOR with no compaction. Two tables get the identical
feed: one with `bloom_cols=["conv_id"]`, one without. After every
apply, `read_changelog` over that window is fully materialized on
both via an order-insensitive digest — which simultaneously proves the
pruned changelog is row-identical to the unpruned one, every tick.

The base-table term is deliberately absent (a compacted base is a
CONSTANT cost both variants pay; the residual being fixed is the
O(tail) growth term). Expect: control walls grow with the tail,
bloomed walls flat, digests equal throughout.

Env knobs: CLB_EVENTS_PER_BATCH (default 20_000), CLB_BATCHES (96),
CLB_WINDOW_CONVS (200), CLB_CPUS (8), CLB_BUCKETS (16).
Artifact: bench_runs/CHANGELOG_BLOOM_r04.json.
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from digital_analytics_data_platform_spark import datagen
from digital_analytics_data_platform_spark.lake import LakeTable, merge_changes
from digital_analytics_data_platform_spark.session import get_spark


def _digest(df) -> tuple[int, int]:
    """Order-insensitive content digest over the full changelog row
    (images serialized to JSON) — forces complete materialization."""
    cols = [F.to_json(F.col(c)) if c in ("before", "after") else F.col(c).cast("string") for c in df.columns]
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
    return (int(r["n"]), int(r["h"] or 0))


def main() -> dict:
    per = int(os.environ.get("CLB_EVENTS_PER_BATCH", "20000"))
    batches = int(os.environ.get("CLB_BATCHES", "96"))
    window = int(os.environ.get("CLB_WINDOW_CONVS", "200"))
    cpus = int(os.environ.get("CLB_CPUS", "8"))
    buckets = int(os.environ.get("CLB_BUCKETS", "16"))
    spark = get_spark("bench-changelog-bloom", master=f"local[{cpus}]", shuffle_partitions=cpus)

    total = per * batches
    d = tempfile.mkdtemp(prefix="clblake_")
    num = F.substring("conv_id", 6, 8).cast("int")

    def gen(b: int):
        raw = datagen.change_log(
            spark,
            total,
            n_convs=window,
            turns_per_conv=20,
            garbage_frac=0.0,
            hot_key_frac=0.02,
            id_range=(b * per, (b + 1) * per),
        ).drop("op", "commit_lsn")
        # even conv numbers → updates/deletes against the PREVIOUS tick's
        # fresh convs (real before-images, one tick back — the CDC
        # working-set shape); odd → brand-new convs. Each window then
        # shares keys with only the last two ticks' files; everything
        # older is exactly the dead tail the keyset bloom should skip.
        new_num = F.when(num % 2 == 0, F.lit(b * window) + num + 1).otherwise(
            F.lit((b + 1) * window) + num
        )
        return raw.withColumn(
            "conv_id", F.concat(F.lit("conv_"), F.lpad(new_num.cast("string"), 8, "0"))
        )

    tables = {}
    for name, props in (("bloom", {"bloom_cols": ["conv_id"]}), ("control", {})):
        tables[name] = None  # created on first batch (schema from data)
    ticks = []
    for b in range(batches):
        batch = gen(b).persist()
        batch.count()
        tick = {"tick": b}
        for name in ("bloom", "control"):
            tbl = tables[name]
            if tbl is None:
                tbl = tables[name] = LakeTable.create(
                    os.path.join(d, name),
                    batch.schema,
                    ["conv_id", "turn_idx"],
                    ["ts", "lsn"],
                    n_buckets=buckets,
                    props={"bloom_cols": ["conv_id"]} if name == "bloom" else None,
                )
            since = tbl.snapshot().version
            merge_changes(spark, tbl, batch, batch_key=f"b{b}", strategy="mor")
            t0 = time.monotonic()
            clog = tbl.read_changelog(spark, since_version=since)
            dig = _digest(clog)
            tick[name] = {
                "wall_s": round(time.monotonic() - t0, 3),
                "files_scanned": len(clog.inputFiles()),
                "digest": dig,
            }
        batch.unpersist()
        tick["digest_equal"] = tick["bloom"]["digest"] == tick["control"]["digest"]
        tick["tail_files"] = len(tables["control"].snapshot().files)
        ticks.append(tick)
        if b % 8 == 0 or b == batches - 1:
            print(json.dumps(tick), file=sys.stderr)

    assert all(t["digest_equal"] for t in ticks), "pruned changelog diverged"
    half = len(ticks) // 2
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    out = {
        "metric": "exact-image changelog tick wall vs MOR tail growth, keyset-bloom pruned vs control",
        "events_per_batch": per,
        "batches": batches,
        "window_convs": window,
        "cpus": cpus,
        "buckets": buckets,
        "bloom_wall_first_half_s": round(mean([t["bloom"]["wall_s"] for t in ticks[:half]]), 2),
        "bloom_wall_second_half_s": round(mean([t["bloom"]["wall_s"] for t in ticks[half:]]), 2),
        "control_wall_first_half_s": round(mean([t["control"]["wall_s"] for t in ticks[:half]]), 2),
        "control_wall_second_half_s": round(mean([t["control"]["wall_s"] for t in ticks[half:]]), 2),
        "last_tick": {
            "tail_files": ticks[-1]["tail_files"],
            "bloom_files_scanned": ticks[-1]["bloom"]["files_scanned"],
            "control_files_scanned": ticks[-1]["control"]["files_scanned"],
            "bloom_wall_s": ticks[-1]["bloom"]["wall_s"],
            "control_wall_s": ticks[-1]["control"]["wall_s"],
        },
        "all_digests_equal": True,
        "ticks": ticks,
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
