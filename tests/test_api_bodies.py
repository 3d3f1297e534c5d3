"""The REST surface's request-body contract: a malformed body is the
caller's named 400 (or a 404 for a missing table), never a 5xx.

Every fixed-path POST route of ``create_app`` is crossed with a set of
malformed bodies, so a route added later is covered without editing
this file."""

from __future__ import annotations

import json
import re

import pytest

from sql_database_to_elastic_datalake_spark.api import LakeService, create_app

flask = pytest.importorskip("flask")

#: (body, the field a 400 for it must name). A non-object body names
#: "body"; a wrong-typed leaf names its kind.
MALFORMED = [
    ([], "body"),
    ("x", "body"),
    (5, "body"),
    (None, "body"),
    (True, "body"),
    ({"query": 5}, "query"),
    ({"query": "x"}, "query"),
    ({"query": {"match": 3}}, "match"),
    ({"index": 5}, "index"),
    ({"table": 5}, "table"),
    ({"table": ["data_lake_a"]}, "table"),
    ({"size": "x"}, "size"),
    ({"size": -1}, "size"),
    ({"from": -3}, "from"),
    ({"from": "a"}, "from"),
    ({"fields": 5}, "fields"),
    ({"table": "data_lake_a", "query": []}, "query"),
    ({"table": "data_lake_a", "size": 1.5}, "size"),
    ({"table": "data_lake_a", "from": True}, "from"),
]

#: A 400 that turns a body down for a key it LACKS (e.g. "termvectors
#: requires table and id") comes before the malformed field is read.
_MISSING_KEY = re.compile(r"requir|missing|needs")


def _names_its_field(err: str, body, field: str) -> bool:
    # the malformed field, or another key of the body the route turned
    # down first (an unsupported key, a string where a leaf was sent)
    keys = list(body) if isinstance(body, dict) else []
    return any(k in err for k in [field, *keys]) \
        or bool(_MISSING_KEY.search(err))


def _post_routes() -> list[str]:
    app = create_app(LakeService(None, ""))
    return sorted({r.rule for r in app.url_map.iter_rules()
                   if "POST" in r.methods and "<" not in r.rule})


@pytest.fixture(scope="module")
def lake_client(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("bodies_lake"))
    spark.createDataFrame([(1, "spark", 10), (2, "pandas", 20)],
                          "id long, title string, n int").write.parquet(
        f"{lake}/data_lake_a")
    app = create_app(LakeService(spark, lake))
    # a 500 must come back as a status, not as a raised exception
    app.testing = False
    return app.test_client()


@pytest.mark.parametrize("route", _post_routes())
def test_malformed_bodies_never_answer_5xx(lake_client, route):
    failures = []
    for body, field in MALFORMED:
        r = lake_client.post(route, data=json.dumps(body),
                             content_type="application/json")
        if r.status_code >= 500:
            failures.append((body, r.status_code))
        elif r.status_code == 400:
            err = (r.get_json(silent=True) or {}).get("error", "")
            if not _names_its_field(err, body, field):
                failures.append((body, err))
    assert not failures, failures


def test_malformed_msearch_line_fails_only_its_slot(lake_client):
    nd = "\n".join(json.dumps(x) for x in [
        {"index": "data_lake_a"}, {"query": {"match_all": {}}},
        [], {},
        {"index": 5}, {},
    ]) + "\n"
    r = lake_client.post("/search/msearch", data=nd,
                         content_type="application/x-ndjson")
    assert r.status_code == 200
    rs = r.get_json()["responses"]
    assert [x["status"] for x in rs] == [200, 400, 400]
    assert "header" in rs[1]["error"] and "index" in rs[2]["error"]
    nd = "\n".join([json.dumps({"index": "data_lake_a"}), "5"]) + "\n"
    rs = lake_client.post("/search/msearch", data=nd,
                          content_type="application/x-ndjson"
                          ).get_json()["responses"]
    assert [x["status"] for x in rs] == [400]
    assert "body" in rs[0]["error"]


@pytest.mark.parametrize("route,body,field", [
    ("/search/advanced", {"sort": 5}, "sort"),
    ("/search/advanced", {"sort": {"title": "desc"}}, "sort"),
    ("/search/advanced", {"table": "data_lake_a", "size": True}, "size"),
    ("/search/advanced", {"table": "data_lake_a", "k": 2.5}, "k"),
    ("/search/advanced", {"table": "data_lake_a", "highlight": {
        "fields": {"title": {}}, "fragment_size": 1.5}}, "fragment_size"),
    ("/search/advanced", {"sort": [5]}, "sort"),
    ("/search/advanced", {"knn": 5}, "knn"),
    ("/search/advanced", {"table": "data_lake_a", "runtime_mappings": 5},
     "runtime_mappings"),
    ("/search/advanced", {"table": "data_lake_a", "suggest": {
        "s": {"text": "x", "term": 5}}}, "term"),
    ("/search/advanced", {"query": {"terms": {"title": "spark"}}},
     "terms"),
    ("/search/advanced", {"query": {"range": {"n": 5}}}, "range"),
    ("/search/advanced", {"query": {"term": {"title": [1]}}}, "term"),
    ("/search/rank_eval", {"table": "data_lake_a",
                           "metric": {"precision": 5}, "requests": [
        {"id": "q", "request": {"query": {"match_all": {}}},
         "ratings": []}]}, "precision"),
    ("/search/mtermvectors", {"ids": 5, "table": "data_lake_a"}, "ids"),
    ("/search/terms_enum", {"field": 5}, "field"),
    ("/search/terms_enum", {"field": "title", "size": 2.0}, "size"),
    ("/search", {"query": "spark", "fields": 5}, "fields"),
    ("/search", {"query": "spark", "rescore": {"query": {
        "rescore_query": {"multi_match": 3}}}}, "multi_match"),
])
def test_malformed_options_are_named_400s(lake_client, route, body, field):
    r = lake_client.post(route, data=json.dumps(body),
                         content_type="application/json")
    assert r.status_code == 400, r.get_data(as_text=True)
    assert field in r.get_json()["error"]


def test_malformed_ingest_body_is_its_items_400(lake_client):
    r = lake_client.post("/users/batch", data="5",
                         content_type="application/json")
    assert r.status_code == 400
    assert r.get_json()["results"][0]["error"] == \
        "item must be a JSON object"


def test_integer_options_accept_a_string_integer(lake_client):
    r = lake_client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_a", "sort": ["id"], "size": "1", "from": "1",
        "highlight": {"fields": {"title": {}}, "fragment_size": "20"}}),
        content_type="application/json")
    assert r.status_code == 200, r.get_json()
    assert [h["_source"]["id"] for h in r.get_json()["hits"]["hits"]] == [2]
