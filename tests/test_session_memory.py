"""Driver-heap sizing for the local session (no Spark started): the default
is half the usable memory capped at 16g, where usable memory is physical
RAM lowered to a numeric cgroup v2 ``memory.max``."""

import warnings

import pytest

from infinitycrawler_spark import session

GIB = 1 << 30
PAGE = 4096


@pytest.fixture
def host(monkeypatch, tmp_path):
    """Set the fake host's physical RAM and cgroup ``memory.max`` content
    (None: no cgroup file)."""
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    cgroup_file = tmp_path / "memory.max"
    monkeypatch.setattr(session, "CGROUP_MEMORY_MAX", str(cgroup_file))

    def configure(phys_bytes, cgroup=None):
        pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": phys_bytes // PAGE}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        if cgroup is not None:
            cgroup_file.write_text(cgroup)
        return cgroup_file

    return configure


def test_default_is_half_the_usable_memory(host):
    host(15 * GIB)
    assert session.usable_memory_bytes() == 15 * GIB
    assert session.driver_memory() == f"{15 * 1024 // 2}m"


@pytest.mark.parametrize("phys", [32 * GIB, 64 * GIB, 1024 * GIB])
def test_default_is_capped_at_16g(host, phys):
    host(phys)
    assert session.driver_memory() == "16g"


def test_lower_cgroup_limit_wins_over_physical_ram(host):
    host(64 * GIB, cgroup=f"{8 * GIB}\n")
    assert session.usable_memory_bytes() == 8 * GIB
    assert session.driver_memory() == "4096m"


def test_higher_cgroup_limit_leaves_physical_ram(host):
    host(8 * GIB, cgroup=f"{64 * GIB}\n")
    assert session.driver_memory() == "4096m"


def test_cgroup_max_is_ignored(host):
    host(8 * GIB, cgroup="max\n")
    assert session.usable_memory_bytes() == 8 * GIB
    assert session.driver_memory() == "4096m"


def test_unreadable_cgroup_file_is_ignored(host):
    # a directory in the file's place: open() raises an OSError even as root
    host(8 * GIB).mkdir()
    assert session.usable_memory_bytes() == 8 * GIB
    assert session.driver_memory() == "4096m"


@pytest.mark.parametrize("value", ["3g", "2048m", "1024", "16g"])
def test_explicit_value_passes_through_unchanged(host, monkeypatch, value):
    host(64 * GIB, cgroup=f"{32 * GIB}\n")
    monkeypatch.setenv("SPARK_DRIVER_MEM", value)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert session.driver_memory() == value


@pytest.mark.parametrize("value", ["16g", "9000", "9000M", "1t"])
def test_explicit_value_above_usable_memory_warns(host, monkeypatch, value):
    host(8 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEM", value)
    with pytest.warns(UserWarning, match="SPARK_DRIVER_MEM"):
        assert session.driver_memory() == value
