"""Pin for the session factory's env-knob validation (r17 — ADVICE
r16 #4): a malformed SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS must fail
naming the knob, not with a bare int() ValueError pointing at
nothing. The same holds for SPARK_GRAFT_DRIVER_MEM, whose default
is sized from the host's memory. Pure-validation tests — the raise
happens before any session builder is touched, so no Spark session
is created."""

from __future__ import annotations

import pytest

from etl_macropulse_br_spark.session import driver_memory, get_spark


def test_small_shuffle_partitions_env_names_the_knob(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS", "four")
    with pytest.raises(
        ValueError, match="SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS"
    ):
        get_spark(profile="small-input")


def test_small_shuffle_partitions_env_rejects_non_positive(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS", "0")
    with pytest.raises(ValueError, match=">= 1"):
        get_spark(profile="small-input")


def test_small_shuffle_partitions_env_rejects_empty(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS", "")
    with pytest.raises(
        ValueError, match="SPARK_GRAFT_SMALL_SHUFFLE_PARTITIONS"
    ):
        get_spark(profile="small-input")

def _meminfo(tmp_path, kib):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


def test_driver_memory_defaults_to_half_of_host_memory(
    tmp_path, monkeypatch
):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    # a 15.7 GiB swapless host: half, not the old fixed 16g
    assert driver_memory(_meminfo(tmp_path, 16479424)) == "8046m"
    # a large host is capped at 16g
    assert driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16g"
    # no meminfo (non-Linux driver): 16g
    assert driver_memory(str(tmp_path / "absent")) == "16g"


def test_driver_memory_env_override_wins(tmp_path, monkeypatch):
    for ok in ("1g", "512m", "2048", "4G", "1536mb"):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", ok)
        assert driver_memory(_meminfo(tmp_path, 16479424)) == ok


@pytest.mark.parametrize("bad", ["", "lots", "0", "-1g", "1.5g", "4 gb"])
def test_driver_memory_env_names_the_knob(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        get_spark(profile="small-input")
