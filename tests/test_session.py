"""Session sizing from the host: no SparkSession is started here."""

from __future__ import annotations

import os

import pytest

from cowsdb_spark.session import host_cpus


@pytest.mark.parametrize(
    "value,want",
    [
        (None, len(os.sched_getaffinity(0))),
        ("*", len(os.sched_getaffinity(0))),
        ("3", 3),
    ],
)
def test_host_cpus(monkeypatch, value, want):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert host_cpus() == want
