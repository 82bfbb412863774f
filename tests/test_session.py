"""SparkSession factory defaults (session.py)."""

from __future__ import annotations

import pytest

from dynamicqueryengine_spark.session import _driver_memory

_GIB_KIB = 1024 * 1024


@pytest.mark.parametrize(
    "memtotal_kib, expected",
    [
        (15 * _GIB_KIB, "7g"),  # half the host, whole GiB
        (64 * _GIB_KIB, "32g"),
        (256 * _GIB_KIB, "32g"),  # capped at 32g
        (_GIB_KIB, "1g"),  # never below 1g
    ],
)
def test_driver_memory_is_half_the_host(
    tmp_path, monkeypatch, memtotal_kib, expected
):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {memtotal_kib} kB\nMemFree:        1024 kB\n"
    )
    assert _driver_memory(str(meminfo)) == expected


def test_driver_memory_without_meminfo(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert _driver_memory(str(tmp_path / "absent")) == "32g"


def test_driver_memory_env_override(tmp_path, monkeypatch):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal: {15 * _GIB_KIB} kB\n")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _driver_memory(str(meminfo)) == "3g"
