"""Measure the CDC-out relay's O(delta) claim: per-tick wall for its
two envelope modes over the one exact changelog — plain (update/delete
ops) and images (insert/update/delete ops plus the before-image) —
ticked once per applied batch while the table grows. If a tick's cost
scaled with TABLE size rather than BATCH size, the last ticks would be
slowest; the artifact records per-tick walls, rows and segment bytes so
the flatness and the before-image's wire cost are checkable. Both modes
read the same changelog, so every tick must relay the same row count.

Env knobs: RELAY_EVENTS (default 8_000_000), RELAY_BATCHES (8),
RELAY_CPUS (8), RELAY_BUCKETS (16). Artifact: bench_runs/RELAY_r04.json.
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
from digital_analytics_data_platform_spark.streaming.relay import relay_changes
from digital_analytics_data_platform_spark.session import get_spark


def _bytes(res) -> int:
    return sum(os.path.getsize(p) for p in res.segments)


def main() -> dict:
    events = int(os.environ.get("RELAY_EVENTS", "8000000"))
    batches = int(os.environ.get("RELAY_BATCHES", "8"))
    cpus = int(os.environ.get("RELAY_CPUS", "8"))
    buckets = int(os.environ.get("RELAY_BUCKETS", "16"))
    spark = get_spark("bench-relay", master=f"local[{cpus}]", shuffle_partitions=cpus)

    per = events // batches
    d = tempfile.mkdtemp(prefix="relaylake_")
    schema = None
    tbl = None
    ticks = []
    for b in range(batches):
        batch = datagen.change_log(
            spark,
            events,
            n_convs=max(1000, events // 200),
            turns_per_conv=20,
            garbage_frac=0.0,
            id_range=(b * per, (b + 1) * per),
        ).drop("op", "commit_lsn")
        if tbl is None:
            schema = batch.schema
            tbl = LakeTable.create(
                os.path.join(d, "bronze"), schema, ["conv_id", "turn_idx"], ["ts", "lsn"],
                n_buckets=buckets,
            )
        t0 = time.monotonic()
        merge_changes(spark, tbl, batch, batch_key=f"b{b}", strategy="mor")
        apply_wall = time.monotonic() - t0

        t0 = time.monotonic()
        rp = relay_changes(spark, tbl, os.path.join(d, "wire_plain"), codec="debezium")
        plain_wall = time.monotonic() - t0
        t0 = time.monotonic()
        ri = relay_changes(
            spark, tbl, os.path.join(d, "wire_images"), codec="debezium", images=True
        )
        images_wall = time.monotonic() - t0
        ticks.append(
            {
                "batch": b,
                "table_rows_live": tbl.total_rows(),
                "apply_wall_s": round(apply_wall, 2),
                "plain": {"rows": rp.rows, "wall_s": round(plain_wall, 2), "bytes": _bytes(rp)},
                "images": {"rows": ri.rows, "wall_s": round(images_wall, 2), "bytes": _bytes(ri)},
            }
        )
        print(json.dumps(ticks[-1]), file=sys.stderr)

    # one changelog, two envelopes: the same rows every tick
    assert all(t["images"]["rows"] == t["plain"]["rows"] for t in ticks)
    half = len(ticks) // 2
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    out = {
        "metric": "CDC-out relay per-tick wall vs table growth (O(delta) check)",
        "events": events,
        "batches": batches,
        "cpus": cpus,
        "buckets": buckets,
        "ticks": ticks,
        "plain_wall_first_half_s": round(mean([t["plain"]["wall_s"] for t in ticks[:half]]), 2),
        "plain_wall_second_half_s": round(mean([t["plain"]["wall_s"] for t in ticks[half:]]), 2),
        "images_wall_first_half_s": round(mean([t["images"]["wall_s"] for t in ticks[:half]]), 2),
        "images_wall_second_half_s": round(mean([t["images"]["wall_s"] for t in ticks[half:]]), 2),
        "images_over_plain_bytes": round(
            sum(t["images"]["bytes"] for t in ticks) / max(sum(t["plain"]["bytes"] for t in ticks), 1), 2
        ),
        "images_over_plain": round(
            mean([t["images"]["wall_s"] for t in ticks[1:]])
            / max(mean([t["plain"]["wall_s"] for t in ticks[1:]]), 1e-9),
            2,
        ),
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
