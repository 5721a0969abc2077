"""Library session defaults must not assume the ~125 GiB sandbox: on a
smaller host the 64g heap + tmpfs shuffle dir would compete for the same
physical RAM and can OOM the machine instead of spilling to disk."""

from casualty_linking_spark import session


def test_big_host_gets_aggressive_defaults(monkeypatch):
    monkeypatch.setattr(session, "_system_memory_gib", lambda: 125.0)
    assert session._default_driver_memory() == "64g"
    assert session._default_local_dir() == "/dev/shm/spark-local"


def test_small_host_gets_conservative_defaults(monkeypatch):
    monkeypatch.setattr(session, "_system_memory_gib", lambda: 32.0)
    assert session._default_driver_memory() == "16g"
    assert "/dev/shm" not in session._default_local_dir()


def test_host_smaller_than_default_heap_gets_half_its_memory(monkeypatch):
    """A 15 GiB host cannot hold a 16g heap plus its Python workers: the
    kernel OOM-kills the JVM. The heap must leave half the RAM free."""
    monkeypatch.setattr(session, "_system_memory_gib", lambda: 15.0)
    assert session._default_driver_memory() == "7g"
    assert "/dev/shm" not in session._default_local_dir()
    monkeypatch.setattr(session, "_system_memory_gib", lambda: 1.5)
    assert session._default_driver_memory() == "1g"


def test_undetectable_memory_is_conservative(monkeypatch):
    monkeypatch.setattr(session, "_system_memory_gib", lambda: 0.0)
    assert session._default_driver_memory() == "16g"
    assert "/dev/shm" not in session._default_local_dir()


def test_memory_probe_reads_meminfo():
    gib = session._system_memory_gib()
    assert gib > 0.5  # any real Linux host
