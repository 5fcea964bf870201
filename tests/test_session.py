from __future__ import annotations

import os

import pytest

from real_time_mobility_heatmap_spark.session import spark_cpus


@pytest.mark.parametrize("raw", ["abc", "0", "-2", "4.5"])
def test_malformed_spark_cpus_names_variable_and_value(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match=rf"SPARK_GRAFT_CPUS.*'{raw}'"):
        spark_cpus()


def test_spark_cpus_reads_env_or_falls_back_to_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 3 ")
    assert spark_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert spark_cpus() == (os.cpu_count() or 4)
