"""Session defaults that need no Spark session."""

from adb_south_caucasus_etl_spark import session


def test_default_driver_memory_is_half_the_limit_capped_at_16g(monkeypatch):
    gib = 1 << 30
    for limit, expected in [
        (15 * gib, "7680m"),
        (32 * gib, "16384m"),
        (64 * gib, "16384m"),
        (gib, "512m"),
        (None, "16384m"),
    ]:
        monkeypatch.setattr(session, "_memory_limit_bytes", lambda: limit)
        assert session.default_driver_memory() == expected, limit


def test_memory_limit_is_read_on_this_host():
    limit = session._memory_limit_bytes()
    assert limit is not None and limit > 0
