"""The benchmark's workloads. Each is a closed loop with one client: the
next batch starts only after the previous one committed, as a
micro-batch trigger does.

Every workload lands its inputs as parquet during set-up (generated
from the run's seed) and the engine reads only those files. A run is
``setup`` (timed as ``setup_s``), a timed loop of ``cycle`` calls until
the run's seconds are used, then an untimed ``check`` of the outputs.
"""

from __future__ import annotations

import datetime as dt
import inspect
import os
import random
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from digital_analytics_data_platform_spark import datagen
from digital_analytics_data_platform_spark.lake import merge as lake_merge
from digital_analytics_data_platform_spark.lake.table import LakeTable, lww_collapse
from digital_analytics_data_platform_spark.plans import ivm as plans_ivm
from digital_analytics_data_platform_spark.plans import pipeline as plans_pipeline
from digital_analytics_data_platform_spark.plans import quality as plans_quality
from digital_analytics_data_platform_spark.plans.transcripts import gold_daily_wide
from digital_analytics_data_platform_spark.streaming import relay as streaming_relay

from harness import Target, interleave

KEY_COLS = ["conv_id", "turn_idx"]
ORDER_COLS = ["ts", "lsn"]
_GEN_DEFAULTS = inspect.signature(datagen.change_log).parameters
EVENT_GAP_S = _GEN_DEFAULTS["event_gap_s"].default
OOO_WINDOW_S = _GEN_DEFAULTS["ooo_window_s"].default


def land_change_log(spark: SparkSession, path: str, seed: int, n_convs: int,
                    seed_events: int, batch_events: int, n_batches: int) -> list[str]:
    """Generate one change log and land it as parquet, one directory per
    slice: the seed state first, then ``n_batches`` batches. Each batch is
    one source commit (``commit_size=batch_events``), which is also how
    the slices are cut. Returns the slice directories."""
    if seed_events % batch_events:
        raise ValueError("seed_events must be a multiple of batch_events")
    log = datagen.change_log(
        spark, seed_events + batch_events * n_batches, n_convs=n_convs, seed=seed,
        commit_size=batch_events,
    )
    first = seed_events // batch_events
    part = F.greatest(F.col("commit_lsn") / F.lit(batch_events) - F.lit(first - 1), F.lit(0)).cast("int")
    log.withColumn("part", part).write.partitionBy("part").parquet(path)
    return [os.path.join(path, f"part={i}") for i in range(n_batches + 1)]


def event_time(event_id: int) -> dt.datetime:
    """Generator clock: event ``i`` happens ``i`` gaps after the epoch,
    before its out-of-order jitter (naive UTC, like collected values)."""
    return dt.datetime.fromtimestamp(datagen.BASE_EPOCH, dt.timezone.utc).replace(tzinfo=None) + dt.timedelta(
        seconds=event_id * EVENT_GAP_S
    )


def conv_ids(n_convs: int) -> list[str]:
    """The generator's conversation ids."""
    return [f"conv_{i:08d}" for i in range(n_convs)]


def business_schema(df: DataFrame):
    return df.drop("op", "commit_lsn").schema


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def live_bytes(path: str) -> int:
    """Bytes of the data files the current snapshots of every table under
    ``path`` reference."""
    total = 0
    for name in sorted(os.listdir(path)):
        tp = os.path.join(path, name)
        if LakeTable.exists(tp):
            for f in LakeTable.load(tp).snapshot().files:
                total += os.path.getsize(os.path.join(tp, f["path"]))
    return total


def tail_files(tbl: LakeTable) -> int:
    """Delta files merge-on-read still collapses at read time."""
    return sum(int(v) for v in tbl.snapshot().props.get("delta_buckets", {}).values())


def digest(df: DataFrame, cols: list[str]) -> tuple:
    """Order-insensitive multiset digest: row count and the exact sum of
    per-row 64-bit hashes. Doubles are rounded to 9 decimals first, since
    sums may add in another order."""
    vals = [F.round(F.col(c), 9) if t == "double" else F.col(c) for c, t in df.select(*cols).dtypes]
    row = df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*vals).cast("decimal(38,0)"))
    ).first()
    return int(row[0]), row[1]


def same_rows(got: DataFrame, exp: DataFrame) -> bool:
    """Multiset equality on ``got``'s columns, by digest."""
    return digest(got, got.columns) == digest(exp, got.columns)


def trace_targets() -> list[Target]:
    """The layer entry points the traced run wraps. Private pipeline
    methods are listed where a public call would leave the gold scoped-
    delete probes and the tombstone pass uncovered; a target the code no
    longer has is skipped and its time shows as ``pipeline.self``."""

    def batch_key(args, kwargs):
        return {"batch_key": kwargs.get("batch_key") or ""}

    return [
        Target(lake_merge, "merge_changes", "merge", attrs=batch_key),
        Target(lake_merge, "compact", "compact"),
        Target(LakeTable, "snapshot", "table.snapshot", count_jobs=False),
        Target(plans_pipeline.MedallionPipeline, "apply_batch", "pipeline.batch"),
        Target(plans_pipeline.MedallionPipeline, "_propagate_deletes", "pipeline.silver_tomb"),
        Target(plans_pipeline.MedallionPipeline, "_merge_gold_with_index", "pipeline.gold"),
        Target(plans_quality, "run_quality_checks", "pipeline.qa"),
        Target(plans_ivm.IncrementalRollup, "sync", "ivm.sync"),
        Target(streaming_relay, "relay_changes", "relay.tick"),
    ]


class Workload:
    """Shared loop state: per-cycle samples, checks and the tracer."""

    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.batch_s: list[float] = []
        self.events: list[int] = []
        self.lag_s: list[float] = []
        self.point_s: list[float] = []
        self.range_s: list[float] = []
        self.compact_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool]] = []
        # traced-run observations
        self.read_files: list[int] = []
        self.range_files: list[int] = []
        self.tails: list[int] = []
        self.silver_rows_in: list[int] = []
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def reset_samples(self) -> None:
        """Drop the samples set-up took while warming the timed paths."""
        for xs in (self.batch_s, self.events, self.lag_s, self.point_s, self.range_s, self.compact_s,
                   self.read_files, self.range_files, self.tails, self.silver_rows_in):
            xs.clear()

    def phase(self, name: str) -> None:
        """Record the wall since the previous phase mark (set-up breakdown)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    def span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        self.checks.append((what, bool(ok)))
        if not ok:
            self.failed += 1

    def point_read(self, tbl: LakeTable, value, samples: list) -> None:
        """One serving lookup, timed with its collect; keeps the answer
        and snapshot version for the untimed recompute check."""
        self.attempted += 1
        v = tbl.snapshot().version
        with self.span("table.read_point") as sp:
            t0 = time.perf_counter()
            df = tbl.read_point(self.spark, value, snapshot_version=v)
            rows = df.collect()
            self.point_s.append(time.perf_counter() - t0)
        if sp is not None:
            self.read_files.append(len(df.inputFiles()))
            self.tails.append(tail_files(tbl))
        samples.append((value, v, rows))

    def range_read(self, tbl: LakeTable, col: str, lo, hi, samples: list) -> None:
        """One recent-window aggregate, ``col`` between ``lo`` and ``hi``,
        with manifest stats skipping (stats compare as ISO strings)."""
        self.attempted += 1
        v = tbl.snapshot().version
        with self.span("table.read_range") as sp:
            t0 = time.perf_counter()
            df = tbl.read(
                self.spark, snapshot_version=v, stats_range={col: (lo.isoformat(), hi.isoformat())}
            )
            got = self.window_measure(df, col, lo, hi)
            self.range_s.append(time.perf_counter() - t0)
        if sp is not None:
            self.range_files.append(len(df.inputFiles()))
        samples.append((lo, hi, v, got))

    def window_measure(self, df: DataFrame, col: str, lo, hi) -> tuple:
        row = df.filter(F.col(col).between(F.lit(lo), F.lit(hi))).agg(*self.range_measures()).first()
        return tuple(row)

    def check_reads(self, tbl: LakeTable, points: list, ranges: list, col: str) -> None:
        """Sampled reads must equal a full recompute at the same snapshot."""
        key = tbl.snapshot().key_cols[0]
        for value, v, rows in points[-1:]:
            exp = tbl.read(self.spark, snapshot_version=v).filter(F.col(key) == value).collect()
            self.check(f"point_read {value}@{v}", sorted(map(tuple, rows)) == sorted(map(tuple, exp)))
        for lo, hi, v, got in ranges[-1:]:
            exp = self.window_measure(tbl.read(self.spark, snapshot_version=v), col, lo, hi)
            self.check(f"range_read {lo}..{hi}@{v}", exp == got)


class MedallionSmallBatch(Workload):
    """``MedallionPipeline.apply_batch`` with its production defaults (COW,
    ``run_qa=True``) at 16 buckets, on a state seeded with 10x a batch.
    Batches are small, so fixed per-commit cost and Silver/Gold re-reads
    dominate. After each batch a dashboard client reads: conversation
    transcripts by key from Silver and one recent-day Gold aggregate."""

    name = "medallion_small_batch"
    SEED_EVENTS = 5_000
    BATCH_EVENTS = 500
    MAX_BATCHES = 4  # < full_audit_every - 1, so no scheduled audit lands in a timed batch
    N_CONVS = 100
    BUCKETS = 16
    # reads per batch, interleaved; the read paths keep speeding up over
    # their first calls, so set-up runs WARM_READS (points, ranges) first
    POINT_READS = 5
    RANGE_READS = 15
    WARM_READS = (2, 6)

    @staticmethod
    def range_measures():
        return [F.sum("n_turns"), F.max("max_lsn"), F.count(F.lit(1))]

    def setup(self) -> None:
        self.feeds = land_change_log(
            self.spark, os.path.join(self.work, "feed"), self.seed, self.N_CONVS,
            self.SEED_EVENTS, self.BATCH_EVENTS, self.MAX_BATCHES,
        )
        self.phase("land")
        self.lake = os.path.join(self.work, "lake")
        self.pipe = plans_pipeline.MedallionPipeline(self.lake, n_buckets=self.BUCKETS)
        seed_df = self.spark.read.parquet(self.feeds[0])
        self.pipe.create_tables(business_schema(seed_df))
        self.pipe.apply_batch(self.spark, seed_df, "seed")
        self.phase("seed")
        self.convs = conv_ids(self.N_CONVS)
        self.silver = LakeTable.load(os.path.join(self.lake, "silver"))
        self.gold = LakeTable.load(os.path.join(self.lake, "gold_daily"))
        # the dashboard tile: the latest event day the feed reaches
        self.last_day = event_time(self.SEED_EVENTS + self.BATCH_EVENTS * self.MAX_BATCHES).date()
        self.points: list = []
        self.ranges: list = []
        self.next = 1
        self.dashboard(*self.WARM_READS, [], [])
        self.qa_critical = 0
        self.phase("warm_read")

    def has_next(self) -> bool:
        return self.next < len(self.feeds)

    def cycle(self) -> None:
        i = self.next
        self.next += 1
        batch = self.spark.read.parquet(self.feeds[i])
        self.attempted += 1
        t0 = time.perf_counter()
        res = self.pipe.apply_batch(self.spark, batch, i)
        wall = time.perf_counter() - t0
        self.lag_s.append(time.time() - LakeTable.load(os.path.join(self.lake, "bronze")).committed_at(res.bronze.version))
        self.batch_s.append(wall)
        self.events.append(self.BATCH_EVENTS)
        self.silver_rows_in.append(res.silver.events_in if res.silver else 0)
        self.qa_critical += sum(1 for r in res.qa if r["is_critical_failure"])
        self.dashboard(self.POINT_READS, self.RANGE_READS, self.points, self.ranges)

    def dashboard(self, n_points: int, n_ranges: int, points: list, ranges: list) -> None:
        """Silver transcript lookups among runs of the Gold recent-day tile."""
        interleave(
            n_points, n_ranges,
            lambda: self.point_read(self.silver, self.rng.choice(self.convs), points),
            lambda: self.range_read(self.gold, "day", self.last_day, self.last_day, ranges),
        )

    def check_all(self) -> None:
        self.phase("timed")
        audit = self.pipe.run_full_audit(self.spark)
        crit = [r for r in audit if r["is_critical_failure"]]
        self.check("run_full_audit has no critical failure", not crit)
        self.check("per-batch QA has no critical failure", self.qa_critical == 0)
        got = self.pipe.read(self.spark, "gold_daily")
        exp = gold_daily_wide(self.pipe.read(self.spark, "silver"))
        self.check("gold_daily == gold_daily_wide(silver)", same_rows(got, exp))
        self.check_reads(self.silver, self.points, [], "ts")
        self.check_reads(self.gold, [], self.ranges, "day")
        self.phase("check")


class BronzeFanout(Workload):
    """MOR ``merge_changes`` into Bronze, then its consumers: one
    ``IncrementalRollup.sync`` (group by conv_id, sum turn_idx, max lsn),
    one ``relay_changes`` tick, and serving reads beside the writes (key
    lookups plus one recent-window aggregate); ``compact`` every second
    batch, so reads see a tail of one or two delta batches. Set-up seeds
    and compacts Bronze, then applies one batch left uncompacted. The
    kernel, the consumers and read-time collapse dominate;
    ``plans.pipeline`` is not called."""

    name = "bronze_fanout"
    SEED_EVENTS = 10_000
    BATCH_EVENTS = 10_000
    MAX_BATCHES = 2  # the set-up's uncompacted batch and one timed batch
    N_CONVS = 1_000
    BUCKETS = 16
    COMPACT_EVERY = 2
    # reads per batch, interleaved; the first after a commit is often slow
    POINT_READS = 5
    RANGE_READS = 5
    WARM_READS = (2, 2)

    @staticmethod
    def range_measures():
        return [F.count(F.lit(1)), F.max("lsn")]

    def setup(self) -> None:
        self.feeds = land_change_log(
            self.spark, os.path.join(self.work, "feed"), self.seed, self.N_CONVS,
            self.SEED_EVENTS, self.BATCH_EVENTS, self.MAX_BATCHES,
        )
        self.phase("land")
        self.lake = os.path.join(self.work, "lake")
        seed_df = self.spark.read.parquet(self.feeds[0])
        self.bronze = LakeTable.create(
            os.path.join(self.lake, "bronze"), business_schema(seed_df), KEY_COLS, ORDER_COLS,
            n_buckets=self.BUCKETS,
        )
        self.rollup = plans_ivm.IncrementalRollup.create(
            os.path.join(self.lake, "rollup"), self.bronze, ["conv_id"], ["turn_idx"],
            max_cols=["lsn"], n_buckets=self.BUCKETS,
        )
        self.relay_dir = os.path.join(self.work, "relay")
        lake_merge.merge_changes(self.spark, self.bronze, seed_df, batch_key="bronze:seed", strategy="mor")
        lake_merge.compact(self.spark, self.bronze)
        pre = self.spark.read.parquet(self.feeds[1])
        lake_merge.merge_changes(self.spark, self.bronze, pre, batch_key="bronze:1", strategy="mor")
        self.phase("seed")
        self.rollup.sync(self.spark, self.bronze)
        streaming_relay.relay_changes(self.spark, self.bronze, self.relay_dir)
        self.phase("consumers")
        self.convs = conv_ids(self.N_CONVS)
        self.points: list = []
        self.ranges: list = []
        self.next = 2
        interleave(
            *self.WARM_READS,
            lambda: self.point_read(self.bronze, self.rng.choice(self.convs), self.points),
            lambda: self.range_read(self.bronze, "ts", *self.window(1), self.ranges),
        )
        self.phase("warm_read")

    def window(self, i: int) -> tuple:
        """Event-time span of batch ``i``: its generator clock, widened by
        the out-of-order jitter."""
        first = self.SEED_EVENTS + (i - 1) * self.BATCH_EVENTS
        return (
            event_time(first) - dt.timedelta(seconds=OOO_WINDOW_S),
            event_time(first + self.BATCH_EVENTS),
        )

    def has_next(self) -> bool:
        return self.next < len(self.feeds)

    def cycle(self) -> None:
        i = self.next
        self.next += 1
        batch = self.spark.read.parquet(self.feeds[i])
        self.attempted += 1
        t0 = time.perf_counter()
        res = lake_merge.merge_changes(self.spark, self.bronze, batch, batch_key=f"bronze:{i}", strategy="mor")
        self.batch_s.append(time.perf_counter() - t0)
        self.events.append(self.BATCH_EVENTS)
        committed = self.bronze.committed_at(res.version)
        self.rollup.sync(self.spark, self.bronze)
        streaming_relay.relay_changes(self.spark, self.bronze, self.relay_dir)
        self.lag_s.append(time.time() - committed)
        head = self.bronze.snapshot().version
        self.check(f"consumers at head after batch {i}",
                   self.rollup.cursor() == head and streaming_relay.relay_cursor(self.relay_dir) == head)
        interleave(
            self.POINT_READS, self.RANGE_READS,
            lambda: self.point_read(self.bronze, self.rng.choice(self.convs), self.points),
            lambda: self.range_read(self.bronze, "ts", *self.window(i), self.ranges),
        )
        if i % self.COMPACT_EVERY == 0:
            t0 = time.perf_counter()
            lake_merge.compact(self.spark, self.bronze)
            self.compact_s.append(time.perf_counter() - t0)

    def check_all(self) -> None:
        self.phase("timed")
        applied = self.spark.read.parquet(*self.feeds[: self.next])
        exp = (
            lww_collapse(
                applied.filter(F.col("conv_id").isNotNull() & (F.col("turn_idx") >= 0)),
                KEY_COLS, ORDER_COLS,
            )
            .filter(F.col("op") != "D")
            .drop("op", "commit_lsn")
        )
        self.check("bronze == lww_collapse(landed batches)", same_rows(self.bronze.read(self.spark), exp))
        # the rollup against Bronze at the version it last synced to
        synced = self.bronze.read(self.spark, snapshot_version=self.rollup.cursor())
        rexp = synced.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("turn_idx").cast("double")).alias("sum_turn_idx"),
            F.max("lsn").alias("max_lsn"),
        )
        roll = self.rollup.table.read(self.spark).select("conv_id", "cnt", "sum_turn_idx", "max_lsn")
        self.check("rollup == groupBy recompute", same_rows(roll, rexp))
        self.check_reads(self.bronze, self.points, self.ranges, "ts")
        self.phase("check")


WORKLOADS = {w.name: w for w in (MedallionSmallBatch, BronzeFanout)}
