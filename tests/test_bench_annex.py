"""bench.py: the annex names stay registered, and the one query timer
keeps reading the status store through perfbench's StatusStore (a
rename there fails here, not in the timing scripts)."""

from __future__ import annotations

from functools import partial

import pytest

import bench
from tests.conftest import SF0001


def test_rotation_entries_are_registered():
    from hadoop_log_analysis_spark.queries import load_registry

    reg = load_registry()
    missing = [q for q in bench.HEADLINE + bench.ANNEX if q not in reg]
    assert not missing, f"bench names not in registry: {missing}"


@pytest.mark.parametrize("sink", bench.SINKS)
def test_time_query_record(spark, sink):
    from hadoop_log_analysis_spark.queries import load_registry

    fn = load_registry()["q_pricing_summary"].fn
    rec = bench.time_query(spark, partial(fn, spark, SF0001), sink, runs=2)
    assert rec["sec_min"] <= rec["sec"] <= rec["sec_max"]
    assert rec["sec"] > 0
    assert rec["rows"] == len(fn(spark, SF0001).collect())
    assert rec["jobs"] >= 1
    assert rec["stages"] >= 1 and rec["stage_keys"]
    assert (rec["rerun_sec"] is None) == (sink == "noop")
