"""bench.py's measurement path: the census gate and the per-query
construction/execution split."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("name, seconds, flagged", [
    # the committed census sample of a triaged query, 11x its floor
    ("st_stream_stream_join", 34.1, True),
    # any untriaged query over 5s
    ("q1_pricing_summary", 5.1, True),
    # a triaged query over 5s but within twice its floor
    ("px_blob_labeling", 6.0, False),
    # a triaged query at its warm floor
    ("st_stream_stream_join", 4.0, False),
])
def test_census_gate_trips_on_growth(name, seconds, flagged):
    """A triaged census entry is not a blank cheque: the gate trips at
    twice the floor its triage records, so a "~3s" query sampled at
    34s is flagged instead of passing unseen."""
    assert bench.census_flagged(name, seconds) is flagged


def test_run_query_splits_construction_from_execution(spark, sf_dir):
    """A one-pass plan runs its work in the sink; a fixpoint runs nearly
    all of its jobs while the DataFrame is being built."""
    from bdc_collection_builder_spark.plans.registry import all_queries

    all_queries()
    construct_s, wall_s, eager, jobs = bench.run_query(
        spark, "q1_pricing_summary", sf_dir)
    assert jobs - eager >= 1
    assert construct_s < wall_s
    _, _, eager, jobs = bench.run_query(spark, "dd_cluster_components", sf_dir)
    assert eager >= 10
    assert eager >= 0.9 * jobs
