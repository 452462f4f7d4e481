"""bench.py's measurement path: the census gate, the per-query
construction/execution split and the compact line's length guard."""

from __future__ import annotations

import json

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


def _spread(names, noisy=()):
    return {n: {"min": 1.0, "max": 3.0 + i if n in noisy else 1.5}
            for i, n in enumerate(names)}


def test_compact_line_trims_queries_map_last():
    """An oversized queries map is trimmed, noisiest entry first, once
    ``noisy_min`` and the census list are spent; the BASELINE proxies
    stay."""
    names = [f"query_with_a_long_name_{i:03d}" for i in range(120)]
    proxies = ["proxy_px_expression_2m", "proxy_pipeline_scenes",
               "proxy_merge_batch"]
    noisy = names[:5]
    spread = _spread(names + proxies, noisy)
    compact = {
        "metric": "headline_query_suite_wall", "value": 1.0, "unit": "sec",
        "queries": {n: 1.0 for n in names + proxies},
        "noisy_min": {n: 1.0 for n in noisy},
        "sf": 0.1,
        "census_over5s": ["q1_pricing_summary"],
    }
    bench.fit_compact(compact, spread)
    line = json.dumps(compact, separators=(",", ":"))
    assert 1900 < len(line) <= 1980
    assert compact["noisy_min"] == {} and compact["census_over5s"] == []
    assert set(proxies) <= set(compact["queries"])
    kept = [n for n in names if n in compact["queries"]]
    # the noisiest medians go first, then the rest in name order
    assert not set(noisy) & set(kept)
    assert kept == names[-len(kept):]


def test_compact_line_raises_when_trimming_cannot_fit():
    """Proxy keys are never trimmed, so three ~700-char ones cannot fit
    the 1980-char budget whatever else goes."""
    names = [f"query_{i:03d}" for i in range(20)]
    proxies = [f"proxy_{c * 700}" for c in "abc"]
    compact = {"metric": "headline_query_suite_wall", "value": 1.0,
               "unit": "sec", "queries": {n: 1.0 for n in names + proxies},
               "noisy_min": {n: 1.0 for n in names[:3]}, "sf": 0.1}
    with pytest.raises(RuntimeError, match="over the 1980-char budget"):
        bench.fit_compact(compact, _spread(names + proxies, names[:3]))
    assert set(compact["queries"]) == set(proxies)
