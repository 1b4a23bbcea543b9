import pytest

from storm_spark.session import code_cache_opt


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
