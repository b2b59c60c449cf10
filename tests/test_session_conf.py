"""SparkSession factory defaults that need no JVM to check."""

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
