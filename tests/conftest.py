import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from digital_analytics_data_platform_spark.session import get_spark  # noqa: E402
from pyspark.sql import types as T  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Test data is tiny, so a job's cost is its task count: one task
    # slot per core of a 4-vCPU host, and 2 shuffle partitions, the
    # count the hypothesis suites' own sessions ask for (getOrCreate
    # applies it to this shared session, so every later test ran at 2).
    s = get_spark("dadp-tests", master="local[4]", shuffle_partitions=2)
    yield s
    s.stop()


TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("lsn", T.LongType()),
    ]
)


@pytest.fixture()
def make_table(tmp_path):
    from digital_analytics_data_platform_spark.lake import LakeTable

    def _make(name="bronze", schema=TRANSCRIPT_SCHEMA, n_buckets=8, **kw):
        return LakeTable.create(
            str(tmp_path / name), schema, ["conv_id", "turn_idx"], ["ts", "lsn"], n_buckets=n_buckets, **kw
        )

    return _make


def cdc_rows(spark, rows):
    """Build a CDC batch from (op, conv, turn, role, text, tool, ts_s, lsn) tuples."""
    from datetime import datetime, timezone

    from pyspark.sql import Row

    data = [
        Row(
            op=r[0],
            conv_id=r[1],
            turn_idx=r[2],
            role=r[3],
            text=r[4],
            tool=r[5],
            ts=datetime.fromtimestamp(1767225600 + r[6], tz=timezone.utc).replace(tzinfo=None),
            lsn=r[7],
            commit_lsn=0,
        )
        for r in rows
    ]
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("tool", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("commit_lsn", T.LongType()),
        ]
    )
    return spark.createDataFrame(data, schema)


def oracle_state(log_pd):
    """Reference reducer over a pandas change log via DuckDB."""
    import duckdb

    from digital_analytics_data_platform_spark.datagen import expected_state_sql

    con = duckdb.connect()
    con.register("log", log_pd)
    return con.sql(expected_state_sql("log") + " ORDER BY conv_id, turn_idx").df()


def assert_state_equal(engine_pd, oracle_pd):
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    assert len(engine_pd) == len(oracle_pd), f"rows {len(engine_pd)} != {len(oracle_pd)}"
    g = engine_pd[cols].reset_index(drop=True)
    e = oracle_pd[cols].reset_index(drop=True)
    bad = (g != e) & ~(g.isna() & e.isna())
    assert not bad.any().any(), f"value mismatch:\n{g[bad.any(axis=1)].head()}\nvs\n{e[bad.any(axis=1)].head()}"


def assert_marts_match_recompute(spark, pipe):
    """Every gold mart of a MedallionPipeline, the long views included,
    equals a full recompute from its Silver table."""
    from digital_analytics_data_platform_spark.plans.transcripts import (
        gold_daily_wide,
        gold_long,
        gold_weekly_wide,
    )

    daily = gold_daily_wide(pipe.read(spark, "silver"))
    weekly = gold_weekly_wide(daily)
    expected = {
        "gold_daily": daily,
        "gold_weekly": weekly,
        "gold_daily_long": gold_long(daily, ["day", "conv_id"]),
        "gold_weekly_long": gold_long(weekly, ["qgp_week", "conv_id"]),
    }
    for mart, exp in expected.items():
        got = pipe.read(spark, mart)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.select(*got.columns).collect())), mart
