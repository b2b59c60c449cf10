"""spark-submit entrypoint for the CDC → medallion pipeline — the
deployment shape the north star names (``spark-submit --py-files
dadp.zip scripts/submit_pipeline.py --feed-dir …``). On a cluster the
master/executors come from spark-submit; run locally it builds its own
``local[N]`` session.

Tails a change-feed directory (parquet log segments, or Debezium JSON
envelope files with ``--wire-format json``) through the checkpointed
foreachBatch apply into Bronze → Silver → Gold, then prints one JSON
line of run metrics. Resumable: re-running with the same checkpoint
directory continues from the last committed offset, and replayed
batches are no-ops via the table ledger.

Usage (local smoke):
    python scripts/submit_pipeline.py --feed-dir /data/cdc_log \
        --lake-dir /data/lake --checkpoint-dir /data/ckpt \
        --strategy mor --compact-every 8

Packaging for a real cluster:
    cd /root/repo && zip -r /tmp/dadp.zip digital_analytics_data_platform_spark
    spark-submit --py-files /tmp/dadp.zip scripts/submit_pipeline.py …
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--feed-dir", required=True,
                    help="change-feed directory to tail — the directory holding the "
                         "parquet/JSON files themselves, or a glob like '/feed/seg_*' "
                         "when segments land one directory each (the file stream does "
                         "not recurse; a parent dir of segment subdirs matches 0 files)")
    ap.add_argument("--lake-dir", required=True, help="medallion table root")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--wire-format",
                    choices=["parquet", "json", "debezium", "maxwell", "canal", "wal2json"],
                    default="parquet",
                    help="parquet log segments, or newline-delimited JSON change "
                         "envelopes in one of the four wire formats "
                         "('json' is an alias for 'debezium')")
    ap.add_argument("--mode", choices=["medallion", "bronze-only"], default="medallion",
                    help="full Bronze→Silver→Gold rebuild per batch, or bronze apply only")
    ap.add_argument("--strategy", choices=["cow", "mor"], default="mor")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--write-salt", type=int, default=1,
                    help=">1 spreads hot-conversation writes over several tasks")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="bronze-only: fold MOR deltas every N batches")
    ap.add_argument("--compact-cluster-by", default=None,
                    help="comma-separated columns to cluster on during the "
                         "periodic compact (e.g. 'ts' for window-read pruning)")
    ap.add_argument("--compact-cluster-mode", default="range", choices=["range", "zorder"],
                    help="lexicographic range clustering or Morton-interleaved z-order "
                         "(multi-dimensional pruning; needs >= 2 cluster columns)")
    ap.add_argument("--compact-tail-over", type=int, default=0,
                    help="bronze-only: need-based trigger — fold any bucket whose MOR "
                         "delta tail reaches N delta commits (only those buckets rewritten)")
    ap.add_argument("--retention-every", type=int, default=0,
                    help="bronze-only: rolling event-time TTL sweep every N batches "
                         "(metadata-first file drops; incompatible with rollups)")
    ap.add_argument("--retention-age-seconds", type=float, default=None,
                    help="TTL age: sweep cutoff = newest ts stat - this many seconds")
    ap.add_argument("--expire-every", type=int, default=0,
                    help="bronze-only: run snapshot expiry + GC on every maintained "
                         "table every N batches (rollup changelog cursors auto-protected)")
    ap.add_argument("--expire-keep-last", type=int, default=10,
                    help="snapshot versions to retain per table at each expiry")
    ap.add_argument("--trigger", default="available-now",
                    help="'available-now' (bounded replay) or a processingTime "
                         "interval like '30 seconds' (live tail)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--run-qa", action="store_true",
                    help="medallion mode: per-batch scoped QA + qa_results table")
    ap.add_argument("--publish-tag", default=None,
                    help="medallion mode: after the feed drains, run the full audit "
                         "and advance this consumer tag (write-audit-publish) only "
                         "if no critical check fails; on failure the tag stays at "
                         "the last audited-good versions and the process exits 3")
    ap.add_argument("--relay-out", default=None,
                    help="after the feed drains, relay the bronze table's "
                         "incremental changelog to this dir as wire envelopes "
                         "(CDC-out mirror; cursor-resumable across runs)")
    ap.add_argument("--relay-codec", default="debezium",
                    choices=["debezium", "wal2json", "maxwell", "canal"])
    ap.add_argument("--relay-images", action="store_true",
                    help="relay with image envelopes: true insert/update/delete "
                         "ops, and update envelopes carry the pre-update row "
                         "image (without it: update/delete ops over the same "
                         "exact changelog)")
    ap.add_argument("--rollup-group", default=None,
                    help="bronze-only: maintain an exact incremental rollup mart "
                         "(IVM over the image changelog) grouped by these "
                         "comma-separated columns, synced inside the apply loop; "
                         "the mart lives at <lake-dir>/rollup")
    ap.add_argument("--rollup-sum", default=None,
                    help="comma-separated numeric columns summed in the rollup")
    ap.add_argument("--rollup-min", default=None,
                    help="comma-separated columns tracked as MIN in the rollup "
                         "(dirty-group recompute on extremum retraction)")
    ap.add_argument("--rollup-max", default=None,
                    help="comma-separated columns tracked as MAX in the rollup")
    ap.add_argument("--rollup-sumsq", default=None,
                    help="comma-separated numeric columns whose sum of squares the "
                         "rollup maintains (serves exact variance/stddev at read time)")
    ap.add_argument("--rollup-distinct", default=None,
                    help="bronze-only, with --rollup-group: additionally maintain an "
                         "exact COUNT(DISTINCT <col>) mart per rollup group "
                         "(two-level IVM; lives at <lake-dir>/rollup_distinct)")
    ap.add_argument("--rollup-join-dim", default=None,
                    help="bronze-only: path of an existing dimension LakeTable; maintains "
                         "an exact delta-join rollup mart (bronze JOIN dim) at "
                         "<lake-dir>/rollup_join, synced from BOTH tables' changelogs")
    ap.add_argument("--rollup-join-on", default="conv_id",
                    help="comma-separated equi-join columns for --rollup-join-dim")
    ap.add_argument("--rollup-join-group", default=None,
                    help="comma-separated group columns of the join rollup "
                         "(either side of the join)")
    ap.add_argument("--rollup-join-sum", default=None,
                    help="comma-separated numeric columns summed in the join rollup "
                         "(either side of the join)")
    ap.add_argument("--rollup-sync-every", type=int, default=1,
                    help="sync the rollup every N applied batches")
    ap.add_argument("--bootstrap-snapshot", default=None,
                    help="bronze-only: parquet path of the source table's existing rows "
                         "(initial load) — applied as bucket-aligned chunks RACING the "
                         "live tail (streaming/bootstrap.py, the DBLog shape)")
    ap.add_argument("--bootstrap-lsn", type=int, default=0,
                    help="log position the snapshot is consistent as of (tail events "
                         "below it are filtered in unversioned mode)")
    ap.add_argument("--bootstrap-chunks", type=int, default=None,
                    help="number of snapshot chunks (default min(16, table buckets))")
    ap.add_argument("--bootstrap-versioned", action="store_true",
                    help="snapshot rows carry true (ts, lsn) order columns "
                         "(e.g. a lake_snapshot_changes export) — exact under "
                         "arbitrary overlap/disorder")
    ap.add_argument("--local-cores", type=int, default=None,
                    help="build a local[N] session (omit under spark-submit on a cluster)")
    return ap


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from digital_analytics_data_platform_spark.lake import LakeTable
    from digital_analytics_data_platform_spark.streaming.runner import apply_stream
    from digital_analytics_data_platform_spark.streaming.source import (
        cdc_file_stream,
        cdc_json_stream,
        cdc_schema,
    )

    if args.local_cores:
        from digital_analytics_data_platform_spark.session import get_spark

        spark = get_spark(
            "dadp-pipeline",
            master=f"local[{args.local_cores}]",
            shuffle_partitions=args.local_cores,
        )
    else:
        # under spark-submit the session/master is the cluster's
        spark = SparkSession.builder.appName("dadp-pipeline").getOrCreate()

    if args.wire_format != "parquet":
        codec = "debezium" if args.wire_format == "json" else args.wire_format
        source = cdc_json_stream(
            spark, args.feed_dir, max_files_per_trigger=args.max_files_per_trigger, codec=codec
        )
    else:
        source = cdc_file_stream(
            spark, args.feed_dir, max_files_per_trigger=args.max_files_per_trigger
        )

    available_now = args.trigger == "available-now"
    processing_time = None if available_now else args.trigger

    if args.mode == "bronze-only":
        bronze_path = f"{args.lake_dir}/bronze"
        if not LakeTable.exists(bronze_path):
            row_schema = cdc_schema()
            from pyspark.sql import types as T

            LakeTable.create(
                bronze_path,
                T.StructType([f for f in row_schema.fields if f.name != "op"]),
                ["conv_id", "turn_idx"],
                ["ts", "lsn"],
                n_buckets=args.n_buckets,
            )
        rollups = []
        if args.rollup_group:
            from digital_analytics_data_platform_spark.plans import IncrementalRollup

            split = lambda s: s.split(",") if s else []  # noqa: E731
            mart_path = f"{args.lake_dir}/rollup"
            if LakeTable.exists(mart_path):
                roll = IncrementalRollup.load(
                    mart_path, split(args.rollup_group), split(args.rollup_sum),
                    split(args.rollup_min), split(args.rollup_max),
                    sumsq_cols=split(args.rollup_sumsq),
                )
            else:
                roll = IncrementalRollup.create(
                    mart_path, LakeTable.load(bronze_path),
                    split(args.rollup_group), split(args.rollup_sum),
                    min_cols=split(args.rollup_min), max_cols=split(args.rollup_max),
                    sumsq_cols=split(args.rollup_sumsq),
                    n_buckets=args.n_buckets,
                )
            rollups = [roll]
            if args.rollup_distinct:
                from digital_analytics_data_platform_spark.plans import DistinctCountRollup

                dc_path = f"{args.lake_dir}/rollup_distinct"
                if LakeTable.exists(f"{dc_path}/support"):
                    dc = DistinctCountRollup.load(
                        dc_path, split(args.rollup_group), args.rollup_distinct
                    )
                else:
                    dc = DistinctCountRollup.create(
                        dc_path, LakeTable.load(bronze_path),
                        split(args.rollup_group), args.rollup_distinct,
                        n_buckets=args.n_buckets,
                    )
                rollups.append(dc)
        if args.rollup_join_dim:
            from digital_analytics_data_platform_spark.plans import JoinRollup

            split = lambda s: s.split(",") if s else []  # noqa: E731
            if not args.rollup_join_group:
                raise SystemExit("--rollup-join-dim requires --rollup-join-group")
            dim = LakeTable.load(args.rollup_join_dim)
            jr_path = f"{args.lake_dir}/rollup_join"
            jr_kw = dict(
                join_cols=split(args.rollup_join_on),
                group_cols=split(args.rollup_join_group),
                sum_cols=split(args.rollup_join_sum),
            )
            if LakeTable.exists(jr_path):
                jr = JoinRollup.load(jr_path, dim, **jr_kw)
            else:
                jr = JoinRollup.create(
                    jr_path, LakeTable.load(bronze_path), dim,
                    n_buckets=args.n_buckets, **jr_kw,
                )
            rollups.append(jr)
        stream_kw = dict(
            available_now=available_now,
            processing_time=processing_time,
            write_salt=args.write_salt,
            strategy=args.strategy,
            compact_every=args.compact_every,
            compact_cluster_by=(
                args.compact_cluster_by.split(",") if args.compact_cluster_by else None
            ),
            compact_cluster_mode=args.compact_cluster_mode,
            compact_tail_files_over=args.compact_tail_over,
            retention_every=args.retention_every,
            retention_age_seconds=args.retention_age_seconds,
            expire_every=args.expire_every,
            expire_keep_last=args.expire_keep_last,
            rollups=rollups,
            rollup_sync_every=args.rollup_sync_every,
        )
        chunk_results = None
        if args.bootstrap_snapshot:
            if args.retention_every:
                # retention sweeps refuse mid-bootstrap (deleted-key
                # resurrection hazard) — a cadence tick would crash the run
                raise SystemExit(
                    "--bootstrap-snapshot cannot be combined with --retention-every; "
                    "run retention after the bootstrap completes"
                )
            from digital_analytics_data_platform_spark.streaming.bootstrap import (
                bootstrap_stream,
            )

            bs_kw = dict(stream_kw)
            _, metrics, chunk_results = bootstrap_stream(
                spark,
                spark.read.parquet(args.bootstrap_snapshot),
                source,
                bronze_path,
                args.checkpoint_dir,
                snapshot_lsn=args.bootstrap_lsn,
                chunks=args.bootstrap_chunks,
                versioned=args.bootstrap_versioned,
                strategy=bs_kw.pop("strategy"),
                write_salt=bs_kw.pop("write_salt"),
                **bs_kw,
            )
        else:
            _, metrics = apply_stream(
                spark,
                source,
                bronze_path,
                args.checkpoint_dir,
                # block in BOTH trigger modes: a processingTime tail that
                # returns would exit the process and kill the stream
                await_termination=True,
                **stream_kw,
            )
        out = {
            "mode": "bronze-only",
            "batches": metrics.batches,
            "events": metrics.events,
            "quarantined": metrics.quarantined,
            "deletes": metrics.deletes,
            "skipped_batches": metrics.skipped_batches,
            "wall_s": round(metrics.wall_s, 3),
            "events_per_sec": round(metrics.events_per_sec, 1),
        }
        if chunk_results is not None:
            out["bootstrap_chunks"] = len(chunk_results)
            out["bootstrap_chunks_applied"] = sum(1 for r in chunk_results if not r.skipped)
        if args.expire_every:
            out["expired_snapshots"] = metrics.expired_snapshots
            out["gc_deleted_files"] = metrics.gc_deleted_files
            out["gc_freed_bytes"] = metrics.gc_freed_bytes
        if args.retention_every:
            out["retention_rows_dropped"] = metrics.retention_rows_dropped
            out["retention_files_dropped"] = metrics.retention_files_dropped
        if rollups:
            # drain the tail window past the last cadence tick, then
            # report mart size as the run's rollup evidence
            bronze = LakeTable.load(bronze_path)
            for roll in rollups:
                roll.sync(spark, bronze)
            it = iter(rollups)
            if args.rollup_group:
                out["rollup_groups"] = next(it).read(spark).count()
                if args.rollup_distinct:
                    out["rollup_distinct_groups"] = next(it).read(spark).count()
            if args.rollup_join_dim:
                out["rollup_join_groups"] = next(it).read(spark).count()
    else:
        from digital_analytics_data_platform_spark.plans.pipeline import MedallionPipeline

        row_schema = cdc_schema()
        from pyspark.sql import types as T

        pipe = MedallionPipeline(
            args.lake_dir,
            n_buckets=args.n_buckets,
            strategy=args.strategy,
            run_qa=args.run_qa,
            write_salt=args.write_salt,
        )
        if not LakeTable.exists(f"{args.lake_dir}/bronze"):
            pipe.create_tables(
                T.StructType([f for f in row_schema.fields if f.name != "op"])
            )
        n = {"batches": 0, "events": 0}

        def apply_batch(batch_df, batch_id):
            res = pipe.apply_batch(spark, batch_df, batch_id)
            n["batches"] += 1
            if not res.bronze.skipped:
                n["events"] += res.bronze.events_in

        writer = source.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", args.checkpoint_dir
        )
        writer = (
            writer.trigger(availableNow=True)
            if available_now
            else writer.trigger(processingTime=processing_time)
        )
        q = writer.start()
        # block in both trigger modes — a live processingTime tail must
        # keep the driver alive until externally stopped
        q.awaitTermination()
        out = {"mode": "medallion", **n}
        if args.publish_tag:
            gate = pipe.audit_and_publish(spark, tag=args.publish_tag)
            out["published"] = gate["published"]
            out["publish_tag"] = args.publish_tag
            if not gate["published"]:
                out["critical_failures"] = [
                    f"{r['test_layer']}:{r['test_name']}" for r in gate["critical_failures"]
                ]
                print(json.dumps(out))
                sys.exit(3)

    if args.relay_out:
        from digital_analytics_data_platform_spark.streaming import relay_changes

        res = relay_changes(
            spark,
            LakeTable.load(f"{args.lake_dir}/bronze"),
            args.relay_out,
            codec=args.relay_codec,
            images=args.relay_images,
        )
        out["relay"] = {
            "since_version": res.since_version,
            "until_version": res.until_version,
            "rows": res.rows,
            "segments": len(res.segments),
        }

    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
