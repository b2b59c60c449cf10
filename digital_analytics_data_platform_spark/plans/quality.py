"""QA suite: queryable PASS/FAIL test-results rows, the reference's
first-class QA product re-expressed (SURVEY.md §5).

Mechanisms ported:
1. critical invariants — duplicate grain, null/blank keys, freshness,
   non-negative metrics (``sql/02_SDI_SA360/01_BRONZE/tests/01_sp_bronze_
   campaign_daily_critical.sql:20-214``);
2. cross-layer reconciliation at tolerance 1e-6 — weekly == SUM(daily),
   silver rows == bronze rows (``…tests/02_…reconciliation.sql:12-13``,
   ``…03_GOLD/tests/04_…weekly_reconciliation.sql``);
3. anomaly detection — latest period vs ≥8-period baseline, FAIL
   outside [avg/5, avg×5] (``…tests/05_sp_bronze_weekly_deep_validation.sql``).

Each check emits one row: (test_layer, test_name, severity,
expected_value, actual_value, variance_value, status,
is_critical_failure) — the ``*_test_results`` schema
(``…tests/00_create_sdi_bronze_sa360_test_results.sql:18-45``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOLERANCE = 1e-6


def _row(
    layer: str, name: str, severity: str, expected: float, actual: float | None, passed: bool
) -> dict:
    """``actual=None`` means "unmeasurable" (e.g. freshness of an empty
    layer) — kept as a null, never ``float('inf')``: serialized to JSON
    that would be a bare ``Infinity``, which is not valid JSON and
    breaks any strict consumer of the QA rows."""
    return {
        "test_layer": layer,
        "test_name": name,
        "severity": severity,
        "expected_value": float(expected),
        "actual_value": None if actual is None else float(actual),
        "variance_value": None if actual is None else float(actual - expected),
        "status": "PASS" if passed else "FAIL",
        "is_critical_failure": (not passed) and severity == "HIGH",
    }


def check_no_duplicate_grain(df: DataFrame, keys: list[str], layer: str) -> dict:
    dups = df.groupBy(*keys).count().filter("count > 1").count()
    return _row(layer, "duplicate_grain", "HIGH", 0, dups, dups == 0)


def check_no_null_keys(df: DataFrame, keys: list[str], layer: str) -> dict:
    cond = F.lit(False)
    for k in keys:
        cond = cond | F.col(k).isNull()
    nulls = df.filter(cond).count()
    return _row(layer, "null_or_blank_keys", "HIGH", 0, nulls, nulls == 0)


def check_no_future_ts(df: DataFrame, ts_col: str, max_ts, layer: str) -> dict:
    n = df.filter(F.col(ts_col) > F.lit(max_ts)).count()
    return _row(layer, "future_timestamps", "MEDIUM", 0, n, n == 0)


def check_non_negative(df: DataFrame, metric_cols: list[str], layer: str) -> dict:
    cond = F.lit(False)
    for m in metric_cols:
        cond = cond | (F.col(m) < 0)
    n = df.filter(cond).count()
    return _row(layer, "non_negative_metrics", "MEDIUM", 0, n, n == 0)


def check_rollup_reconciles(
    daily: DataFrame, weekly: DataFrame, metric: str, week_col: str = "qgp_week"
) -> dict:
    """Gold weekly == SUM(gold daily) per metric, tolerance 1e-6."""
    from ..operators.calendar import qgp_week

    d = daily.withColumn(week_col, qgp_week(F.col("day"))).agg(F.sum(metric)).collect()[0][0] or 0
    w = weekly.agg(F.sum(metric)).collect()[0][0] or 0
    return _row("gold", f"weekly_eq_sum_daily_{metric}", "HIGH", d, w, abs(d - w) <= TOLERANCE)


def check_layer_rowcount(upstream: DataFrame, downstream: DataFrame, name: str, layer: str) -> dict:
    a, b = upstream.count(), downstream.count()
    return _row(layer, name, "HIGH", a, b, a == b)


def check_freshness(df: DataFrame, ts_col: str, as_of, max_delay_hours: float, layer: str) -> dict:
    """Data recency: latest ``ts_col`` must be within ``max_delay_hours``
    of ``as_of`` (the reference's allowed-delay freshness gate,
    ``sql/02_SDI_SA360/01_BRONZE/tests/01_sp_bronze_campaign_daily_critical.sql:102-140``).
    ``as_of`` is an explicit timestamp — never defaulted from ``now()``
    so replays stay deterministic."""
    mx = df.agg(F.max(ts_col).alias("mx")).collect()[0]["mx"]
    if mx is None:
        return _row(layer, "freshness", "HIGH", max_delay_hours, None, False)
    delay_h = (as_of - mx).total_seconds() / 3600.0
    return _row(layer, "freshness", "HIGH", max_delay_hours, delay_h, delay_h <= max_delay_hours)


def check_long_eq_wide(wide: DataFrame, long: DataFrame, metrics: list[str], layer: str) -> list[dict]:
    """Long mart reconciles against its wide source per metric at
    tolerance 1e-6 (``sql/02_SDI_SA360/03_GOLD/tests/
    09_sp_gold_campaign_long_bronze_reconciliation.sql``). One agg per
    side regardless of metric count."""
    w = wide.agg(*[F.sum(F.col(m).cast("double")).alias(m) for m in metrics]).collect()[0]
    l = (
        long.groupBy("metric_name")
        .agg(F.sum("metric_value").alias("v"))
        .collect()
    )
    lmap = {r["metric_name"]: r["v"] or 0.0 for r in l}
    out = []
    for m in metrics:
        exp = float(w[m] or 0.0)
        act = float(lmap.get(m, 0.0))
        out.append(_row(layer, f"long_eq_wide_{m}", "HIGH", exp, act, abs(exp - act) <= TOLERANCE))
    return out


def check_anomaly_vs_baseline(
    series: DataFrame, period_col: str, value_col: str, *, min_history: int = 8, factor: float = 5.0
) -> dict:
    rows = series.orderBy(F.col(period_col).desc()).limit(min_history * 4).collect()
    if len(rows) < min_history + 1:
        return _row("bronze", f"anomaly_{value_col}", "LOW", 0, 0, True)  # SKIP ≈ PASS(LOW)
    latest = rows[0][value_col]
    baseline = sum(r[value_col] for r in rows[1:]) / (len(rows) - 1)
    ok = baseline / factor <= latest <= baseline * factor
    return _row("bronze", f"anomaly_{value_col}", "MEDIUM", baseline, latest, ok)


def _grain_expr(keys: list[str], prefix: str):
    """Duplicate-grain + null-key counters as agg expressions, so the
    whole layer audit rides one aggregation instead of one count() per
    check: surplus rows = count(*) − count(distinct keys); null keys
    via a conditional sum. ``prefix`` keeps the column names distinct
    once the layers' aggregates are fused into one row."""
    null_cond = F.lit(False)
    for k in keys:
        null_cond = null_cond | F.col(k).isNull()
    return [
        F.count(F.lit(1)).alias(f"{prefix}_n"),
        F.count_distinct(F.struct(*[F.col(k) for k in keys])).alias(f"{prefix}_nk"),
        F.sum(null_cond.cast("long")).alias(f"{prefix}_nulls"),
    ]


def _duplicate_grain(df: DataFrame, keys: list[str], layer: str, n: int, n_keys: int) -> dict:
    """The fused duplicate-grain row: surplus rows (``n − n_keys``)
    decide PASS/FAIL; only a failing layer runs the A7 count of
    duplicated keys (``HAVING COUNT(*) > 1``) for the reported value,
    so the row reads as :func:`check_no_duplicate_grain` does and a
    passing batch runs no extra job."""
    if n == n_keys:
        return _row(layer, "duplicate_grain", "HIGH", 0, 0, True)
    return check_no_duplicate_grain(df, keys, layer)


def run_quality_checks(
    bronze: DataFrame,
    silver: DataFrame,
    gold_daily: DataFrame,
    gold_weekly: DataFrame,
    *,
    gold_daily_long: DataFrame | None = None,
    max_ts: Any = None,
    as_of: Any = None,
    max_delay_hours: float = 24.0,
    gold_layer: str = "gold",
) -> list[dict]:
    """Full per-batch audit. Each layer is scanned exactly once (all its
    checks ride one aggregation), and the layers' single-row aggregates
    are cross-joined into one row read by ONE ``collect``: at small
    inputs each plan's fixed cost dominates, so one plan beats five.

    ``gold_layer`` labels the gold-side rows. The per-batch pipeline
    passes ``"gold_recompute"`` because it hands in the recomputed
    in-flight frames (weekly/long are derived from the same daily frame,
    so those reconciliations validate the recompute, NOT the persisted
    marts — the persisted state is audited by the scheduled
    ``run_full_audit``, which keeps the default label)."""
    keys = ["conv_id", "turn_idx"]
    b_aggs = _grain_expr(keys, "b") + [F.max("ts").alias("b_max_ts")]
    if max_ts is not None:
        b_aggs.append(F.sum((F.col("ts") > F.lit(max_ts)).cast("long")).alias("b_future"))
    parts = [
        bronze.agg(*b_aggs),
        silver.agg(*_grain_expr(keys, "s")),
        gold_daily.agg(
            *_grain_expr(["day", "conv_id"], "gd"),
            F.sum(((F.col("n_turns") < 0) | (F.col("total_tokens") < 0)).cast("long")).alias("gd_neg"),
            F.sum("n_turns").alias("gd_turns"),
            F.sum("total_tokens").alias("gd_tokens"),
        ),
        gold_weekly.agg(F.sum("n_turns").alias("gw_turns"), F.sum("total_tokens").alias("gw_tokens")),
    ]
    long_metrics = ("n_turns", "total_tokens")
    if gold_daily_long is not None:
        # the wide side of long == wide is gd_turns / gd_tokens: only
        # the LONG side is scanned here
        parts.append(gold_daily_long.agg(*[
            F.sum(F.when(F.col("metric_name") == m, F.col("metric_value"))).alias(f"l_{m}")
            for m in long_metrics
        ]))
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.crossJoin(p)
    r = fused.collect()[0]

    results: list[dict] = []
    # ---- bronze: dup grain, null keys, future ts, freshness --------------
    results.append(_duplicate_grain(bronze, keys, "bronze", r["b_n"], r["b_nk"]))
    results.append(_row("bronze", "null_or_blank_keys", "HIGH", 0, int(r["b_nulls"] or 0), not r["b_nulls"]))
    if max_ts is not None:
        fut = int(r["b_future"] or 0)
        results.append(_row("bronze", "future_timestamps", "MEDIUM", 0, fut, fut == 0))
    if as_of is not None:
        if r["b_max_ts"] is None:
            results.append(_row("bronze", "freshness", "HIGH", max_delay_hours, None, False))
        else:
            delay_h = (as_of - r["b_max_ts"]).total_seconds() / 3600.0
            results.append(
                _row("bronze", "freshness", "HIGH", max_delay_hours, delay_h, delay_h <= max_delay_hours)
            )

    # ---- silver: dup grain + rowcount vs bronze --------------------------
    results.append(_duplicate_grain(silver, keys, "silver", r["s_n"], r["s_nk"]))
    n_b, n_s = int(r["b_n"]), int(r["s_n"])
    results.append(_row("silver", "silver_rows_eq_bronze", "HIGH", n_b, n_s, n_b == n_s))

    # ---- gold daily: dup grain, non-negative -----------------------------
    results.append(_duplicate_grain(gold_daily, ["day", "conv_id"], gold_layer, r["gd_n"], r["gd_nk"]))
    results.append(_row(gold_layer, "non_negative_metrics", "MEDIUM", 0, int(r["gd_neg"] or 0), not r["gd_neg"]))

    # ---- gold weekly: reconcile against daily sums -----------------------
    for m in ("turns", "tokens"):
        d_v = float(r[f"gd_{m}"] or 0)
        w_v = float(r[f"gw_{m}"] or 0)
        results.append(
            _row(gold_layer, f"weekly_eq_sum_daily_{m}", "HIGH", d_v, w_v, abs(d_v - w_v) <= TOLERANCE)
        )

    # ---- gold long: long == wide per metric ------------------------------
    if gold_daily_long is not None:
        for m, wide in zip(long_metrics, ("gd_turns", "gd_tokens")):
            exp = float(r[wide] or 0.0)
            act = float(r[f"l_{m}"] or 0.0)
            results.append(
                _row(gold_layer, f"long_eq_wide_{m}", "HIGH", exp, act, abs(exp - act) <= TOLERANCE)
            )
    return results
