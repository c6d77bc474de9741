"""Session defaults fit the machine: with SPARK_GRAFT_CPUS and
SPARK_DRIVER_MEMORY unset, ``get_spark`` takes the affinity CPU count
and half of physical memory, capped at 16g. Computed without a JVM."""

from __future__ import annotations

import os

import pytest

from samba_tv_ingest_etl_spark.session import machine_defaults


def _machine(monkeypatch, cpus: int, phys_bytes: int) -> None:
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    monkeypatch.setattr(os, "sysconf", lambda name: sysconf[name])


@pytest.mark.parametrize(
    "cpus, phys_gib, heap",
    [
        (4, 16, "8192m"),  # half of physical memory
        (2, 3, "1536m"),
        (96, 512, "16384m"),  # capped at 16g
        (32, 32, "16384m"),
    ],
)
def test_machine_defaults(monkeypatch, cpus, phys_gib, heap):
    _machine(monkeypatch, cpus, phys_gib << 30)
    assert machine_defaults() == (cpus, heap)
