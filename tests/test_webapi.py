"""WSGI layer tests: route-for-route parity with the reference's Flask
blueprint (views.py:30-231), exercised by invoking the PEP 3333
callable directly — no socket, no server."""

from __future__ import annotations

import io
import json

import pytest
from pyspark.sql import functions as F

from bdc_collection_builder_spark.catalog.fixtures import make_fixtures
from bdc_collection_builder_spark.catalog.store import CatalogStore
from bdc_collection_builder_spark.engine import CollectionBuilderEngine
from bdc_collection_builder_spark.webapi import create_app


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    fixtures = make_fixtures(spark, n_scenes=60, n_tiles=6)
    store = CatalogStore(spark, str(tmp_path_factory.mktemp("webapi_catalog")))
    for name in ("collections", "bands", "providers", "collection_providers",
                 "tiles", "items", "activities", "activity_history", "tasks",
                 "activity_src"):
        store.overwrite(name, fixtures[name])
    engine = CollectionBuilderEngine(spark, store,
                                     remote=fixtures["scenes_remote"])
    return create_app(engine)


def call(app, method: str, path: str, query: str = "", body=None):
    raw = json.dumps(body).encode() if body is not None else b""
    environ = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(raw)),
        "wsgi.input": io.BytesIO(raw),
    }
    captured = {}

    def start_response(status, headers):
        captured["status"] = int(status.split()[0])
        captured["headers"] = dict(headers)

    chunks = app(environ, start_response)
    payload = json.loads(b"".join(chunks).decode("utf-8"))
    return captured["status"], payload


def test_activities_pagination_envelope(app):
    status, body = call(app, "GET", "/api/activities",
                        query="page=1&per_page=5")
    assert status == 200
    assert set(body) == {"total", "page", "per_page", "pages", "items"}
    assert body["page"] == 1 and body["per_page"] == 5
    assert 0 < len(body["items"]) <= 5
    assert body["pages"] == -(-body["total"] // 5)
    # filters narrow the result and total tracks the same predicate
    status, filtered = call(app, "GET", "/api/activities",
                            query="collection_id=1&per_page=1000")
    assert status == 200
    assert filtered["total"] == len(filtered["items"])
    assert all(i["collection_id"] == 1 for i in filtered["items"])
    assert filtered["total"] <= body["total"]
    # last_execution is the activity's latest history start
    last = {r.activity_id: r.m and r.m.isoformat() for r in
            app.engine.store.read("activity_history").groupBy("activity_id")
            .agg(F.max("start").alias("m")).collect()}
    assert any(i["last_execution"] for i in filtered["items"])
    assert all(i["last_execution"] == last.get(i["id"])
               for i in body["items"] + filtered["items"])


def test_radcor_preview_and_start(app):
    q = {"w": -180.0, "s": -90.0, "e": 180.0, "n": 90.0, "satsen": "S2MSI2A",
         "start": "2024-01-01", "end": "2024-12-31", "cloud": 100,
         "collection_id": 1}
    status, body = call(app, "POST", "/api/radcor", body=q)
    assert status == 200
    assert set(body) == {"tiles", "Results"}
    assert body["Results"] == len(body["tiles"]) > 0
    status, started = call(app, "POST", "/api/radcor",
                           body={**q, "action": "start"})
    assert status == 200 and started["Results"] > 0


def test_radcor_validation_error_is_400(app):
    # no bbox / scenes / tiles → RadcorQuery mutual-exclusion error
    status, body = call(app, "POST", "/api/radcor",
                        body={"satsen": "S2MSI2A", "start": "2024-01-01",
                              "end": "2024-12-31"})
    assert status == 400 and "error" in body


def test_restart_get_and_post(app):
    status, body = call(app, "GET", "/api/radcor/restart",
                        query="activity_type=download&collection_id=1")
    assert status == 200
    assert body["action"] == "PREVIEW"
    assert body["total"] == len(body["activities"])
    assert all(a["activity_type"] == "download" for a in body["activities"])
    ids = [a["id"] for a in body["activities"][:3]]
    status, by_ids = call(app, "POST", "/api/radcor/restart",
                          body={"ids": ids, "action": "start"})
    assert status == 200 and by_ids["action"] == "start"
    assert sorted(a["id"] for a in by_ids["activities"]) == sorted(ids)
    # GET id= single form (views.py:92-93)
    status, one = call(app, "GET", "/api/radcor/restart",
                       query=f"id={ids[0]}")
    assert status == 200 and one["total"] == 1


def test_restart_sceneid_filter(app):
    """views.py restart supports a sceneid filter (controller.py:100-
    105, comma-separated) — round-3 parity fix (ADVICE-r2)."""
    status, allb = call(app, "GET", "/api/radcor/restart")
    assert status == 200 and allb["total"] > 1
    scenes = sorted({a["sceneid"] for a in allb["activities"]})[:2]
    status, body = call(app, "GET", "/api/radcor/restart",
                        query=f"sceneid={','.join(scenes)}")
    assert status == 200
    assert body["total"] > 0
    assert {a["sceneid"] for a in body["activities"]} <= set(scenes)
    assert body["total"] == sum(
        1 for a in allb["activities"] if a["sceneid"] in scenes)


def test_count_activities_forwards_filters(app):
    """count-activities must honor the reference's filter args
    (controller.py:426-446) — round-3 parity fix (ADVICE-r2)."""
    status, unfiltered = call(app, "GET", "/api/utils/count-activities")
    assert status == 200
    total = sum(r["n"] for r in unfiltered)
    status, typed = call(app, "GET", "/api/utils/count-activities",
                         query="type=download")
    assert status == 200
    assert 0 < sum(r["n"] for r in typed) < total
    status, dated = call(app, "GET", "/api/utils/count-activities",
                         query="last_date=1970-01-01")
    assert status == 200 and sum(r["n"] for r in dated) == 0
    status, by_date = call(app, "GET", "/api/utils/count-activities-date",
                           query="type=download")
    assert status == 200
    assert sum(r["n"] for r in by_date) == sum(r["n"] for r in typed)
    status, all_dates = call(app, "GET", "/api/utils/count-activities-date")
    assert status == 200
    assert sum(r["n"] for r in all_dates) == total


def test_restart_get_query_cap_is_414(app):
    long_ids = ",".join(str(i) for i in range(2000))
    status, body = call(app, "GET", "/api/radcor/restart",
                        query=f"ids={long_ids}")
    assert status == 414
    assert "POST" in body["error"]


def test_stats_and_counts(app):
    for path in ("/api/stats/active", "/api/stats/pending",
                 "/api/utils/count-activities",
                 "/api/utils/count-activities-date",
                 "/api/utils/count-unsuccessfully-activities"):
        status, body = call(app, "GET", path)
        assert status == 200, path
        assert isinstance(body, list), path
    status, avail = call(app, "GET", "/api/utils/collections-available")
    assert status == 200
    assert avail["collections"] == sorted(avail["collections"])


def test_check_scenes(app):
    status, body = call(app, "POST", "/api/check-scenes",
                        body={"w": -180.0, "s": -90.0, "e": 180.0, "n": 90.0,
                              "satsen": "S2MSI2A", "start": "2024-01-01",
                              "end": "2024-12-31", "collection_id": 1})
    assert status == 200 and isinstance(body, list)


def test_catalog_routes(app):
    status, cols = call(app, "GET", "/api/collections")
    assert status == 200
    assert [c["id"] for c in cols] == sorted(c["id"] for c in cols)
    status, tiles = call(app, "GET", "/api/collections/1/tiles")
    assert status == 200 and len(tiles) > 0
    status, grids = call(app, "GET", "/api/grids")
    assert status == 200 and len(grids) > 0
    gid = grids[0]["grid_ref_sys_id"]
    status, one = call(app, "GET", f"/api/grids/{gid}")
    assert status == 200
    assert [g["grid_ref_sys_id"] for g in one] == [gid]
    # bbox that covers everything keeps all grids; a disjoint one drops them
    status, kept = call(app, "GET", "/api/grids",
                        query="bbox=-180,-90,180,90")
    assert status == 200 and len(kept) == len(grids)
    status, none = call(app, "GET", "/api/grids", query="bbox=400,400,401,401")
    assert status == 200 and none == []
    status, prov = call(app, "GET", "/api/providers")
    assert status == 200 and len(prov) > 0


def test_errors(app):
    status, _ = call(app, "GET", "/api/nope")
    assert status == 404
    status, _ = call(app, "GET", "/api/radcor")          # POST-only route
    assert status == 405
    status, _ = call(app, "POST", "/api/collections")    # GET-only route
    assert status == 405
    status, _ = call(app, "GET", "/api/grids", query="bbox=1,2,3")
    assert status == 400
    status, _ = call(app, "GET", "/api/activities", query="page=0")
    assert status == 400


def test_radcor_bbox_order_and_action_validation(app):
    base = {"satsen": "S2MSI2A", "start": "2024-01-01", "end": "2024-12-31",
            "collection_id": 1}
    # w > e → the reference's 'Xmin is greater than XMax' (forms.py:193)
    status, body = call(app, "POST", "/api/radcor",
                        body={**base, "w": 10.0, "s": 0.0, "e": -10.0,
                              "n": 1.0})
    assert status == 400 and "Xmin" in body["error"]
    # s > n
    status, body = call(app, "POST", "/api/radcor",
                        body={**base, "w": -10.0, "s": 5.0, "e": 10.0,
                              "n": -5.0})
    assert status == 400 and "Ymin" in body["error"]
    # unknown action (forms.py:142 OneOf)
    status, body = call(app, "POST", "/api/radcor",
                        body={**base, "w": -10.0, "s": -5.0, "e": 10.0,
                              "n": 5.0, "action": "explode"})
    assert status == 400 and "preview|start" in body["error"]
