"""Round-close artifact gates.

These tests read COMMITTED artifacts (BENCH_FULL.json) rather than
live query output — they make the round-close checklist mechanical:
a failing gate here means an artifact was recorded with an untriaged
problem, not that the engine is wrong.
"""

from __future__ import annotations

import ast
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_lists():
    import sys

    sys.path.insert(0, ROOT)
    import bench

    return bench.BENCH_QUERIES, bench.HEAVY_QUERIES, bench.CENSUS_TRIAGED


def test_bench_suite_membership_consistent():
    """Suite / heavy / triage lists must name registered queries with
    no overlaps: a query in both the suite and HEAVY would be timed
    twice with different estimators, and a CENSUS_TRIAGED entry that
    is also in HEAVY is dead weight (heavy membership already triages
    it)."""
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    suite, heavy, triaged = _bench_lists()
    assert len(suite) == len(set(suite))
    unknown = [n for n in [*suite, *heavy, *triaged] if n not in QUERY_REGISTRY]
    assert not unknown, unknown
    assert not set(suite) & set(heavy)
    assert not set(triaged) & set(heavy)
    assert not set(triaged) & set(suite)
    for name, (floor_s, reason) in triaged.items():
        assert isinstance(reason, str) and len(reason) >= 20, (
            f"census triage for {name} needs a real reason, not a stub")
        assert 0 < floor_s <= 5.0, (
            f"census triage for {name} needs its quiet-day floor in s")


def test_census_has_no_untriaged_tail():
    """VERDICT-r9 task 3: the committed BENCH_FULL.json must show an
    empty untriaged->5s census list. A census entry over 5s has to be
    promoted into BENCH_HEAVY or recorded in bench.CENSUS_TRIAGED
    with a reason — this is how the next tj_resample_interpolate-class
    surprise (a ~7s query nobody ever timed) gets caught by process
    instead of by luck."""
    path = os.path.join(ROOT, "BENCH_FULL.json")
    if not os.path.exists(path):
        pytest.skip("BENCH_FULL.json not present in this checkout")
    doc = json.load(open(path))
    if "census" not in doc:
        pytest.skip("BENCH_FULL.json predates the census format")
    assert doc.get("census_over5s_untriaged") == [], (
        doc.get("census_over5s_untriaged"))
    # the recorded census really covered the registry: suite + heavy +
    # census together must account for every registered query
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )

    all_queries()
    suite, heavy, _ = _bench_lists()
    covered = set(doc.get("queries", {})) | set(doc.get("heavy", {})) | set(
        doc.get("census", {}))
    missing = [n for n in QUERY_REGISTRY if n not in covered]
    # registered-after-the-bench-run queries are legitimate gaps only
    # until the next closing bench; flag everything else
    assert not missing, missing


def test_no_unreferenced_package_helpers():
    """Every module-level function or class of the package is named
    somewhere besides its own ``def``: in another module, a test, a
    script or the benchmark. A helper nothing calls is dead code that
    still reads as a supported path (a stale copy of a ranking, a
    wrapper with no caller), so it fails here instead of lingering.
    Decorated definitions (registered queries) and dunders are exempt:
    a registry or the interpreter reaches them without naming them."""
    import collections
    import re

    words = collections.Counter()
    sources = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    text = fh.read()
                words.update(re.findall(r"\w+", text))
                sources.append((path, text))
    package = os.path.join(ROOT, "bdc_collection_builder_spark") + os.sep
    dead = [
        f"{os.path.relpath(path, ROOT)}:{node.lineno} {node.name}"
        for path, text in sources if path.startswith(package)
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
        and not node.decorator_list
        and not (node.name.startswith("__") and node.name.endswith("__"))
        and words[node.name] <= 1
    ]
    assert not dead, dead


def test_no_spark_action_inside_package_assert():
    """No package ``assert`` runs a Spark action. ``python -O`` strips
    asserts, so an action that exists only inside one never runs: a
    lazy sink materialized by ``assert df.count() == n`` writes
    nothing, and whatever reads its output sees it empty."""

    actions = {"count", "collect", "first", "take", "toPandas"}
    package = os.path.join(ROOT, "bdc_collection_builder_spark")
    found = []
    for dirpath, dirs, files in os.walk(package):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            found += [
                f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                for node in ast.walk(tree) if isinstance(node, ast.Assert)
                if any(isinstance(call, ast.Call)
                       and isinstance(call.func, ast.Attribute)
                       and call.func.attr in actions
                       for call in ast.walk(node))
            ]
    assert not found, found


def _in_writestream_chain(node) -> bool:
    """Whether an attribute/call chain passes through ``.writeStream``."""
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        if isinstance(node, ast.Attribute):
            if node.attr == "writeStream":
                return True
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            node = node.value
    return False


def test_only_drain_starts_a_stream():
    """Only ``streaming/incremental.py:drain`` starts a stream, sets its
    checkpoint or trigger or waits on it, in the package, the bench and
    the scripts. A drain hand-rolled elsewhere can wait unchecked and
    read its sink while the query still runs, or never stop.

    Flagged: any call of ``trigger``, ``toTable``, ``awaitTermination``,
    ``awaitAnyTermination`` or ``processAllAvailable``; a ``start`` call
    whose receiver chain goes through ``writeStream`` (so
    ``Thread.start`` passes); and any ``"checkpointLocation"`` string."""
    stream_calls = {"trigger", "toTable", "awaitTermination",
                    "awaitAnyTermination", "processAllAvailable"}
    drain_file = os.path.join(
        ROOT, "bdc_collection_builder_spark", "streaming", "incremental.py")
    paths = [os.path.join(ROOT, "bench.py")]
    for top in ("bdc_collection_builder_spark", "scripts"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(dirpath, name)
                      for name in files if name.endswith(".py")]
    found = set()
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        allowed = set()
        if path == drain_file:
            drain = next((node for node in tree.body
                          if isinstance(node, ast.FunctionDef)
                          and node.name == "drain"), None)
            if drain is not None:
                allowed = set(ast.walk(drain))
        for node in ast.walk(tree):
            if node in allowed:
                continue
            if isinstance(node, ast.Call) and isinstance(
                    node.func, ast.Attribute):
                attr = node.func.attr
                hit = attr in stream_calls or (
                    attr == "start"
                    and _in_writestream_chain(node.func.value))
            else:
                hit = (isinstance(node, ast.Constant)
                       and node.value == "checkpointLocation")
            if hit:
                found.add(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert not found, sorted(found)
