"""Silver/Gold transforms over the transcripts Bronze table.

Reference-parity map (SURVEY.md §2 / §7 phases 5-6):
- Silver = Bronze + as-of conversation-metadata enrichment (J2),
  rule/regex classification (P6/P7), text metrics (token counts,
  language, quality) — the analog of
  ``sql/02_SDI_SA360/02_SILVER/MERGE/01_merge_sdi_silver_sa360_campaign_daily.sql``.
- Gold = daily-wide / weekly-wide / long marts via QGP-week rollups
  (A1), conditional-agg pivot (A2), unpivot (T6) — the analog of
  ``sql/02_SDI_SA360/03_GOLD/MERGE/*``.

All transforms are pure DataFrame → DataFrame (testable without the
lake layer); the pipeline wrapper persists each layer via the same
idempotent MERGE kernel Bronze uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.calendar import qgp_week
from ..operators.reshape import unpivot
from ..operators.text import language_id, token_count


def conv_dim_snapshot(spark: SparkSession, n_convs: int, *, seed: int = 42) -> DataFrame:
    """Deterministic conversation-metadata snapshot dimension (channel /
    tier assignments changing over time) — the entity-snapshot analog
    (FIXTURES.md §F4). Snapshots at irregular times so the as-of path
    is genuinely exercised."""
    base = 1767225600  # 2026-01-01
    snaps = spark.range(n_convs * 3).select(
        F.concat(
            F.lit("conv_"), F.lpad(F.pmod(F.col("id"), F.lit(n_convs)).cast("string"), 8, "0")
        ).alias("conv_id"),
        F.timestamp_seconds(
            F.lit(base)
            + (F.floor(F.col("id") / n_convs) - 1) * 86400 * 7  # wave 0 predates all events
            + F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(86400))
        ).alias("snap_ts"),
        F.element_at(
            F.array(F.lit("web"), F.lit("api"), F.lit("mobile")),
            (F.pmod(F.xxhash64("id", F.lit(seed), F.lit("ch")), F.lit(3)) + 1).cast("int"),
        ).alias("channel"),
        F.element_at(
            F.array(F.lit("free"), F.lit("pro"), F.lit("enterprise")),
            (F.pmod(F.xxhash64("id", F.lit(seed), F.lit("tier")), F.lit(3)) + 1).cast("int"),
        ).alias("tier"),
        F.col("id").alias("snap_id"),
    )
    return snaps


def build_silver(bronze: DataFrame, conv_dim: DataFrame | None = None) -> DataFrame:
    """Per-turn enrichment over Bronze state."""
    t = F.col("text")
    classified = bronze.select(
        "*",
        # P6 rule-based + P7 regex classification
        F.when(F.col("role") == "tool", F.lit("tool_call"))
        .when(t.rlike(r"\?\s*$"), F.lit("question"))
        .when(t.rlike(r"(^|[^`])```"), F.lit("code"))
        .when(F.col("role") == "system", F.lit("directive"))
        .otherwise(F.lit("statement"))
        .alias("turn_kind"),
        F.when(F.col("tool").isin("python", "sql"), F.lit("compute"))
        .when(F.col("tool").isin("search", "browser"), F.lit("retrieval"))
        .when(F.col("tool").isNotNull(), F.lit("other_tool"))
        .alias("tool_family"),
        token_count("text").alias("n_tokens"),
        language_id("text").alias("lang_guess"),
        F.length("text").alias("n_chars"),
        qgp_week(F.col("ts").cast("date")).alias("qgp_week"),
        F.col("ts").cast("date").alias("day"),
    )
    if conv_dim is not None:
        classified = asof_join(
            classified,
            conv_dim,
            ["conv_id"],
            "ts",
            "snap_ts",
            right_order=["snap_id"],
            payload=["channel", "tier"],
        )
    return classified


def gold_daily_wide(silver: DataFrame) -> DataFrame:
    """Daily-wide mart: per (day, conv) rollup with per-role pivots
    (A1 + A2) and lineage propagation (A5: max lsn carried through)."""
    return silver.groupBy("day", "conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("user_turns"),
        F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias("assistant_turns"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).alias("tool_turns"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("turn_kind") == "question", 1).otherwise(0)).alias("questions"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.max("lsn").alias("max_lsn"),
    )


def gold_weekly_wide(daily: DataFrame) -> DataFrame:
    """Weekly rollup of the daily mart on the QGP fiscal week — weekly
    == SUM(daily) per week is the reconciliation invariant the QA suite
    asserts (``…tests/04_sp_gold_campaign_weekly_reconciliation.sql``)."""
    return (
        daily.withColumn("qgp_week", qgp_week(F.col("day")))
        .groupBy("qgp_week", "conv_id")
        .agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("user_turns").alias("user_turns"),
            F.sum("assistant_turns").alias("assistant_turns"),
            F.sum("tool_turns").alias("tool_turns"),
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("questions").alias("questions"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
            F.max("max_lsn").alias("max_lsn"),
        )
    )


LONG_METRICS = ["n_turns", "user_turns", "assistant_turns", "tool_turns", "total_tokens", "questions"]


def gold_long(wide: DataFrame, ids: list[str]) -> DataFrame:
    """Long shape of a wide mart (T6, EXCLUDE NULLS)."""
    cast = wide.select(*ids, *[F.col(m).cast("double").alias(m) for m in LONG_METRICS])
    return unpivot(cast, ids, LONG_METRICS)
