import pytest

from storm_spark import session
from storm_spark.session import code_cache_opt, driver_memory_default


@pytest.mark.parametrize(
    "env, want",
    [
        ("", "-XX:ReservedCodeCacheSize=2g"),
        (" ", "-XX:ReservedCodeCacheSize=2g"),
        ("off", ""),
        ("1g", "-XX:ReservedCodeCacheSize=1g"),
    ],
)
def test_code_cache_opt_normalizes_env(monkeypatch, env, want):
    """A blank SPARK_GRAFT_CODE_CACHE falls back to the default instead of
    emitting the malformed ``-XX:ReservedCodeCacheSize=`` flag; the
    opt-out word drops the flag."""
    monkeypatch.setenv("SPARK_GRAFT_CODE_CACHE", env)
    assert code_cache_opt() == want


@pytest.mark.parametrize(
    "env, host_gib, want",
    [
        (None, 15, "7680m"),
        ("", 15, "7680m"),
        (None, 128, "32768m"),
        ("6g", 15, "6g"),
        ("80g", 15, "80g"),
    ],
)
def test_driver_memory_default_follows_host(monkeypatch, env, host_gib, want):
    """Without an override the driver heap is half the host's memory,
    capped at 32g; a non-blank SPARK_GRAFT_DRIVER_MEM still wins."""
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": host_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert driver_memory_default() == want
