"""Silver/Gold pipeline over transcripts + QA suite."""

from pyspark.sql import functions as F

from digital_analytics_data_platform_spark import datagen
from digital_analytics_data_platform_spark.lake import merge_changes
from digital_analytics_data_platform_spark.plans import quality
from digital_analytics_data_platform_spark.plans import (
    build_silver,
    conv_dim_snapshot,
    gold_daily_wide,
    gold_long,
    gold_weekly_wide,
    run_quality_checks,
)


def _bronze(spark, make_table, n=4000):
    log = datagen.change_log(spark, n, n_convs=40, turns_per_conv=10)
    tbl = make_table()
    merge_changes(spark, tbl, log, batch_key="b")
    return tbl.read(spark)


def test_silver_enrichment(spark, make_table):
    bronze = _bronze(spark, make_table)
    dim = conv_dim_snapshot(spark, 40)
    silver = build_silver(bronze, dim)
    assert silver.count() == bronze.count()  # enrichment never duplicates rows
    row = silver.filter(F.col("channel").isNotNull()).first()
    assert row is not None and row["tier"] in ("free", "pro", "enterprise")
    kinds = {r["turn_kind"] for r in silver.select("turn_kind").distinct().collect()}
    assert "tool_call" in kinds
    assert silver.filter(F.col("n_tokens") <= 0).count() == 0


def test_gold_rollups_and_long(spark, make_table):
    bronze = _bronze(spark, make_table)
    silver = build_silver(bronze)
    daily = gold_daily_wide(silver)
    weekly = gold_weekly_wide(daily)
    # weekly == sum(daily) — the reconciliation invariant
    d = daily.agg(F.sum("n_turns")).collect()[0][0]
    w = weekly.agg(F.sum("n_turns")).collect()[0][0]
    assert d == w == silver.count()
    long = gold_long(daily, ["day", "conv_id"])
    assert long.count() > 0
    assert set(long.columns) == {"day", "conv_id", "metric_name", "metric_value"}
    # long == wide reconciliation for one metric
    lt = (
        long.filter("metric_name = 'total_tokens'").agg(F.sum("metric_value")).collect()[0][0]
    )
    wt = daily.agg(F.sum("total_tokens")).collect()[0][0]
    assert abs(lt - wt) < 1e-6


def test_quality_suite_all_pass(spark, make_table):
    bronze = _bronze(spark, make_table)
    silver = build_silver(bronze)
    daily = gold_daily_wide(silver)
    weekly = gold_weekly_wide(daily)
    results = run_quality_checks(bronze, silver, daily, weekly)
    failed = [r for r in results if r["status"] == "FAIL"]
    assert not failed, failed
    assert len(results) >= 8


def _standalone_checks(bronze, silver, daily, weekly, long, *, max_ts, as_of, layer):
    """The per-batch audit spelled with the one-check-per-job functions."""
    keys = ["conv_id", "turn_idx"]
    metrics = ["n_turns", "total_tokens"]
    # check_rollup_reconciles names its row by metric column and always
    # labels it "gold"; the fused audit says turns/tokens under its layer
    rollups = [
        {**quality.check_rollup_reconciles(daily, weekly, m), "test_layer": layer,
         "test_name": f"weekly_eq_sum_daily_{short}"}
        for m, short in zip(metrics, ("turns", "tokens"))
    ]
    return [
        quality.check_no_duplicate_grain(bronze, keys, "bronze"),
        quality.check_no_null_keys(bronze, keys, "bronze"),
        quality.check_no_future_ts(bronze, "ts", max_ts, "bronze"),
        quality.check_freshness(bronze, "ts", as_of, 24.0, "bronze"),
        quality.check_no_duplicate_grain(silver, keys, "silver"),
        quality.check_layer_rowcount(bronze, silver, "silver_rows_eq_bronze", "silver"),
        quality.check_no_duplicate_grain(daily, ["day", "conv_id"], layer),
        quality.check_non_negative(daily, metrics, layer),
        *rollups,
        *quality.check_long_eq_wide(daily, long, metrics, layer),
    ]


def test_fused_quality_checks_match_standalone_checks(spark, make_table):
    """run_quality_checks fuses every layer's checks into one collect; its
    rows must equal the standalone check_* functions' on clean inputs and
    on inputs corrupted one way each. One duplicated key is present three
    times: both report duplicated keys (A7), not surplus rows."""
    from datetime import timedelta

    table_rows = _bronze(spark, make_table, n=600)
    rows = table_rows.collect()
    bronze = spark.createDataFrame(rows, table_rows.schema)
    silver = build_silver(bronze).persist()
    daily = gold_daily_wide(silver).persist()
    weekly = gold_weekly_wide(daily)
    long = gold_long(daily, ["day", "conv_id"])
    max_ts = max(r["ts"] for r in rows)
    null_key = {**rows[0].asDict(), "conv_id": None}
    cases = {
        "clean": {},
        "duplicate_grain": {"bronze": spark.createDataFrame(rows + rows[:3] + rows[:1], bronze.schema)},
        "null_key": {"bronze": spark.createDataFrame(rows + [null_key], bronze.schema)},
        "negative_metric": {"daily": daily.withColumn("n_turns", F.when(
            F.col("conv_id") == rows[0]["conv_id"], -F.col("n_turns")).otherwise(F.col("n_turns")))},
        "weekly_ne_sum_daily": {"weekly": weekly.withColumn("n_turns", F.col("n_turns") + 1)},
        "long_ne_wide": {"long": long.withColumn("metric_value", F.col("metric_value") * 2)},
    }
    try:
        for case, override in cases.items():
            frames = {"bronze": bronze, "silver": silver, "daily": daily, "weekly": weekly, "long": long}
            frames.update(override)
            kw = {"max_ts": max_ts, "as_of": max_ts + timedelta(hours=1)}
            fused = run_quality_checks(
                frames["bronze"], frames["silver"], frames["daily"], frames["weekly"],
                gold_daily_long=frames["long"], gold_layer="gold_recompute", **kw,
            )
            oracle = _standalone_checks(*frames.values(), layer="gold_recompute", **kw)
            cols = ("test_layer", "test_name", "severity", "expected_value", "actual_value", "status")
            got = sorted(tuple(r[c] for c in cols) for r in fused)
            exp = sorted(tuple(r[c] for c in cols) for r in oracle)
            assert got == exp, case
            assert (case == "clean") == all(r["status"] == "PASS" for r in fused), case
    finally:
        silver.unpersist()
        daily.unpersist()


def test_quality_suite_detects_violations(spark, make_table):
    bronze = _bronze(spark, make_table)
    corrupted = bronze.unionByName(bronze.limit(5))  # duplicate grain
    from digital_analytics_data_platform_spark.plans.quality import check_no_duplicate_grain

    r = check_no_duplicate_grain(corrupted, ["conv_id", "turn_idx"], "bronze")
    assert r["status"] == "FAIL" and r["is_critical_failure"]


def test_quality_freshness_and_long_reconcile(spark, make_table, tmp_path):
    """Freshness gate (allowed-delay vs explicit as_of, ref
    01_sp_bronze_campaign_daily_critical.sql:102-140) and long==wide
    reconciliation (ref 09_sp_gold_campaign_long_bronze_reconciliation)."""
    from datetime import timedelta

    from digital_analytics_data_platform_spark.plans.quality import check_freshness
    from digital_analytics_data_platform_spark.plans.transcripts import gold_long

    bronze = _bronze(spark, make_table)
    silver = build_silver(bronze)
    daily = gold_daily_wide(silver)
    weekly = gold_weekly_wide(daily)
    max_ts = bronze.agg(F.max("ts")).collect()[0][0]

    # fresh: as_of just after the newest event → PASS row present
    results = run_quality_checks(
        bronze, silver, daily, weekly,
        gold_daily_long=gold_long(daily, ["day", "conv_id"]),
        as_of=max_ts + timedelta(hours=1), max_delay_hours=24.0,
    )
    fr = [r for r in results if r["test_name"] == "freshness"]
    assert len(fr) == 1 and fr[0]["status"] == "PASS"
    lw = [r for r in results if r["test_name"].startswith("long_eq_wide_")]
    assert lw and all(r["status"] == "PASS" for r in lw)
    assert not [r for r in results if r["status"] == "FAIL"]

    # stale: as_of far beyond the allowed delay → freshness FAILs
    stale = check_freshness(bronze, "ts", max_ts + timedelta(days=30), 24.0, "bronze")
    assert stale["status"] == "FAIL"
