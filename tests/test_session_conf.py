"""SparkSession factory defaults, and its behaviour on a live session."""

import logging

from digital_analytics_data_platform_spark import session as sess


def _fake_host(monkeypatch, phys_gib: int) -> None:
    page = 4096
    pages = phys_gib * 1024**3 // page
    monkeypatch.setattr(sess.os, "sysconf", {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}.__getitem__)


def test_default_driver_mem_is_half_of_physical_capped_at_32g(monkeypatch):
    _fake_host(monkeypatch, 16)
    assert sess._default_driver_mem() == "8192m"
    _fake_host(monkeypatch, 64)
    assert sess._default_driver_mem() == "32768m"
    _fake_host(monkeypatch, 512)
    assert sess._default_driver_mem() == "32768m"


def test_get_spark_on_live_session_warns_and_names_changes(spark, caplog):
    """getOrCreate keeps the live session's master and rewrites its SQL
    confs in place; get_spark says so instead of doing it silently."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    other = str(int(before) + 1)
    try:
        with caplog.at_level(logging.WARNING, logger=sess.__name__):
            got = sess.get_spark("probe", master="local[1]", shuffle_partitions=int(other))
        assert got is spark and spark.sparkContext.master != "local[1]"
        assert spark.conf.get(key) == other
        (msg,) = [r.getMessage() for r in caplog.records if r.name == sess.__name__]
        assert "local[1]" in msg and f"{key} {before!r} -> {other!r}" in msg
    finally:
        spark.conf.set(key, before)
