from __future__ import annotations

import json
import os

import pytest

from sql_database_to_elastic_datalake_spark.api import LakeService, create_app


@pytest.fixture()
def service(spark, tmp_path):
    return LakeService(spark, str(tmp_path))


@pytest.fixture()
def client(service):
    flask = pytest.importorskip("flask")  # noqa: F841
    app = create_app(service)
    app.testing = True
    return app.test_client()


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200
    assert r.get_json()["status"] == "healthy"


def test_single_ingest_and_defaults(service):
    out = service.ingest("user", {"email": "a@x.io", "name": "A", "username": "a"})
    # the reference answers a created point ingest with 201 +
    # status/"<entity>_id" (label_routes.py:84-88)
    assert out["status_code"] == 201 and out["success_count"] == 1
    assert out["status"] == "success" and out["user_id"] == out["results"][0]["id"]
    df = service.spark.read.parquet(os.path.join(service.lake_dir, "data_lake_user"))
    row = df.collect()[0]
    assert row["email"] == "a@x.io"
    assert row["id"] and row["createdAt"]  # defaulted


def test_batch_partial_success_207(client, service):
    batch = [
        {"email": "ok@x.io", "name": "ok", "username": "ok"},
        {"name": "no-email"},  # missing required email
    ]
    r = client.post("/users/batch", data=json.dumps(batch),
                    content_type="application/json")
    assert r.status_code == 207
    body = r.get_json()
    assert body["success_count"] == 1 and body["error_count"] == 1
    assert body["results"][1]["error"] == "missing required field: email"
    # the envelope is a superset of the reference's batch shape
    # (label_routes.py:156-161): status/successful/failed + per-item
    # status and <entity>_id
    assert body["status"] == "completed"
    assert (body["successful"], body["failed"]) == (1, 1)
    assert body["results"][0]["status"] == "success"
    assert body["results"][0]["user_id"] == body["results"][0]["id"]
    assert body["results"][1]["status"] == "error"
    assert body["results"][1]["user_id"] == "unknown"
    # empty batch: the reference's success/count shape
    r = client.post("/users/batch", data=json.dumps([]),
                    content_type="application/json")
    assert r.status_code == 200
    assert r.get_json()["status"] == "success"
    assert r.get_json()["count"] == 0


def test_all_failed_400_and_unknown_404(service):
    out = service.ingest("ticket", [{"data": "x"}])  # ticket_number required
    assert out["status_code"] == 400
    assert service.ingest("nope", {"name": "x"})["status_code"] == 404


def test_failed_item_echoes_entity_specific_id(service):
    """A failed item carrying only the reference's entity-specific key
    (label_id/user_id...) must echo that id, not "unknown" — the
    reference reads label_data.get("label_id")
    (label_routes.py:156-161). Plain "id" still wins when both exist."""
    out = service.ingest("label", [
        {"label_id": "L-77"},                 # no name -> fails
        {"id": "L-88", "label_id": "L-99"},   # "id" takes precedence
        {"whatever": 1},                      # neither key
    ])
    assert out["status_code"] == 400
    ids = [r["label_id"] for r in out["results"]]
    assert ids == ["L-77", "L-88", "unknown"]


def test_search_and_advanced(client, service):
    service.ingest("label", [
        {"name": "spark engine"}, {"name": "pandas loop"}, {"name": "spark fast"},
    ])
    r = client.post("/search", data=json.dumps({"query": "spark"}),
                    content_type="application/json")
    hits = r.get_json()["hits"]
    assert hits["total"]["value"] == 2
    assert all("spark" in h["_source"]["name"] for h in hits["hits"])

    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"bool": {"must": [{"match": {"name": "pandas"}}]}},
    }), content_type="application/json")
    adv = r.get_json()["hits"]
    assert adv["total"]["value"] == 1
    assert adv["total"]["relation"] == "eq"
    assert adv["hits"][0]["_source"]["name"] == "pandas loop"

    # single-job totals (r5): more matches than the page -> ES-style
    # lower bound (track_total_hits shape), page stays k rows
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"match_all": {}},
        "k": 2,
    }), content_type="application/json")
    adv = r.get_json()["hits"]
    assert adv["total"] == {"value": 2, "relation": "gte"}
    assert len(adv["hits"]) == 2
    # the ranked /search total stays EXACT (observe on the sort input)
    r = client.post("/search", data=json.dumps({"query": "spark", "k": 1}),
                    content_type="application/json")
    hits = r.get_json()["hits"]
    assert hits["total"] == {"value": 2, "relation": "eq"}
    assert len(hits["hits"]) == 1
    # ES's "size" spelling works too; malformed sizes are 400 not 500
    r = client.post("/search", data=json.dumps({"query": "spark", "size": 1}),
                    content_type="application/json")
    assert len(r.get_json()["hits"]["hits"]) == 1
    for bad in ("lots", -3):
        r = client.post("/search",
                        data=json.dumps({"query": "spark", "k": bad}),
                        content_type="application/json")
        assert r.status_code == 400
    # zero matches: the observed total must come back 0 (and the
    # Observation must not hang when TakeOrdered consumes no rows)
    r = client.post("/search", data=json.dumps({"query": "zzznope"}),
                    content_type="application/json")
    hits = r.get_json()["hits"]
    assert hits["total"] == {"value": 0, "relation": "eq"}
    assert hits["hits"] == []

    # the reference's exact request shape: search_term + fields
    # (src/search_api.py:19-21), ["*"] meaning every string column
    r = client.post("/search", data=json.dumps(
        {"search_term": "spark", "fields": ["*"]}),
        content_type="application/json")
    assert r.get_json()["hits"]["total"]["value"] == 2
    # restricting fields to one that never matches the term
    r = client.post("/search", data=json.dumps(
        {"search_term": "spark", "fields": ["id"]}),
        content_type="application/json")
    assert r.get_json()["hits"]["total"]["value"] == 0
    # wildcard field patterns expand per table (na* -> name)
    r = client.post("/search", data=json.dumps(
        {"search_term": "spark", "fields": ["na*"]}),
        content_type="application/json")
    assert r.get_json()["hits"]["total"]["value"] == 2
    # no term at all: named 400, not a KeyError 500
    r = client.post("/search", data=json.dumps({"fields": ["*"]}),
                    content_type="application/json")
    assert r.status_code == 400
    assert "search_term" in r.get_json()["error"]


def test_search_size_zero_is_total_only(client, service):
    """ES's size:0 is a valid aggs-only/total-only request — it used to
    500 (limit(0) prunes the CollectMetrics node and Observation.get
    assert-fails, r5 advisory api.py:301)."""
    service.ingest("label", [
        {"name": "spark engine"}, {"name": "pandas loop"},
        {"name": "spark fast"},
    ])
    r = client.post("/search", data=json.dumps({"query": "spark", "k": 0}),
                    content_type="application/json")
    assert r.status_code == 200
    hits = r.get_json()["hits"]
    assert hits["total"] == {"value": 2, "relation": "eq"}
    assert hits["hits"] == []
    # advanced: unranked path
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"match_all": {}}, "size": 0,
    }), content_type="application/json")
    assert r.status_code == 200
    adv = r.get_json()["hits"]
    assert adv["total"] == {"value": 3, "relation": "eq"}
    assert adv["hits"] == []
    # advanced: sorted path (the Observation-bearing branch)
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"match": {"name": "spark"}}, "size": 0,
        "sort": [{"name": "asc"}],
    }), content_type="application/json")
    assert r.status_code == 200
    adv = r.get_json()["hits"]
    assert adv["total"] == {"value": 2, "relation": "eq"}
    assert adv["hits"] == []


def test_advanced_from_size_offset_pagination(client, service):
    """ES's {"from": N, "size": k} idiom — the most common saved-query
    pagination shape the reference forwards verbatim — must page, not
    silently return page 1 (r5 verdict #1)."""
    service.ingest("label", [{"name": f"item {i:02d}"} for i in range(7)])

    def page(frm, size):
        r = client.post("/search/advanced", data=json.dumps({
            "table": "data_lake_label", "query": {"match_all": {}},
            "sort": [{"name": "asc"}], "from": frm, "size": size,
        }), content_type="application/json")
        assert r.status_code == 200
        return r.get_json()["hits"]

    p1, p2, p3 = page(0, 3), page(3, 3), page(6, 3)
    names = [h["_source"]["name"] for p in (p1, p2, p3) for h in p["hits"]]
    assert names == [f"item {i:02d}" for i in range(7)]  # no overlap/gap
    assert [len(p["hits"]) for p in (p1, p2, p3)] == [3, 3, 1]
    # totals stay the full match count on every page
    assert all(p["total"] == {"value": 7, "relation": "eq"}
               for p in (p1, p2, p3))
    # past-the-end page: empty, not an error
    assert page(40, 3)["hits"] == []

    # from without sort is a named 400, not a silently unordered page
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "from": 3,
    }), content_type="application/json")
    assert r.status_code == 400 and "sort" in r.get_json()["error"]
    # from + search_after are mutually exclusive (ES rejects too)
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "sort": [{"name": "asc"}], "from": 3, "search_after": ["item 02"],
    }), content_type="application/json")
    assert r.status_code == 400 and "search_after" in r.get_json()["error"]
    # malformed from
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "sort": [{"name": "asc"}], "from": "deep",
    }), content_type="application/json")
    assert r.status_code == 400


def test_advanced_unknown_body_keys_400(client, service):
    """The reference's route forwards the body verbatim to ES, so every
    top-level key has live semantics there — a key this engine doesn't
    implement must 400 with its name, never vanish (the old behavior
    silently ignored `from` and returned the wrong page)."""
    service.ingest("label", [{"name": "x"}])
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "collapse": {"field": "name"},
    }), content_type="application/json")
    assert r.status_code == 400
    assert "collapse" in r.get_json()["error"]
    # every implemented key passes the gate
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "size": 1, "sort": ["name"], "from": 0,
        "aggs": {"n": {"value_count": {"field": "name"}}},
    }), content_type="application/json")
    assert r.status_code == 200


def test_advanced_source_filtering(client, service):
    """_source include/exclude shapes: bool, name list, pattern
    object — applied as a projection (the registered
    search_source_filtering query plan-gates the pruned scan)."""
    service.ingest("label", [{"name": "spark engine", "color": "red"}])

    def src(body_source):
        r = client.post("/search/advanced", data=json.dumps({
            "table": "data_lake_label", "query": {"match_all": {}},
            "_source": body_source,
        }), content_type="application/json")
        assert r.status_code == 200
        return r.get_json()["hits"]["hits"][0]["_source"]

    assert set(src(["name", "color"])) == {"name", "color"}
    assert set(src("name")) == {"name"}
    assert set(src({"includes": ["*"], "excludes": ["c*", "id",
                                                    "*datedAt"]})) \
        == {"name"}
    assert src(False) == {}
    # sort values still come back when their column is excluded
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "_source": ["color"], "sort": [{"name": "asc"}],
    }), content_type="application/json")
    h = r.get_json()["hits"]["hits"][0]
    assert set(h["_source"]) == {"color"} and h["sort"] == ["spark engine"]


def test_advanced_highlight(client, service):
    service.ingest("label", [
        {"name": "spark engine fast", "color": "sparkly red"},
        {"name": "pandas loop"},
    ])
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"bool": {"must": [{"match": {"name": "spark fast"}}],
                           "must_not": [{"match": {"color": "blue"}}]}},
        "highlight": {"fields": {"name": {}, "color": {}}},
    }), content_type="application/json")
    assert r.status_code == 200
    (hit,) = r.get_json()["hits"]["hits"]
    # both query tokens wrapped; the must_not term is NOT highlighted,
    # and color carries no highlight at all — its only query term was
    # the excluded one (ES's require_field_match default: a field
    # highlights only ITS OWN matching terms)
    assert hit["highlight"] \
        == {"name": ["<em>spark</em> engine <em>fast</em>"]}
    # custom tags + a field with no match is omitted from highlight
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"match": {"name": "pandas"}},
        "highlight": {"fields": {"name": {}, "color": {}},
                      "pre_tags": ["[["], "post_tags": ["]]"]},
    }), content_type="application/json")
    (hit,) = r.get_json()["hits"]["hits"]
    assert hit["highlight"] == {"name": ["[[pandas]] loop"]}
    # malformed highlight is the client's 400
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "highlight": {"pre_tags": ["x"]},
    }), content_type="application/json")
    assert r.status_code == 400 and "fields" in r.get_json()["error"]


def test_highlight_merges_overlapping_terms():
    from sql_database_to_elastic_datalake_spark.plans.search import (
        highlight_snippets,
    )

    def whole(text, terms):
        # no fragment size: the whole value comes back as one fragment
        return highlight_snippets(text, terms, "<em>", "</em>", None, None)

    # overlapping occurrences merge into one span; case-insensitive
    assert whole("Sparkly spark", ["spark", "sparkly"]) \
        == ["<em>Sparkly</em> <em>spark</em>"]
    # "abca"@0 and "cab"@2 overlap -> one merged span [0,5)
    assert whole("abcabc", ["abca", "cab"]) == ["<em>abcab</em>c"]
    assert whole("no hit here", ["zzz"]) is None
    assert whole(None, ["x"]) is None


def test_advanced_collapse(client, service):
    service.ingest("label", [
        {"name": "a1", "color": "red"}, {"name": "a2", "color": "red"},
        {"name": "b1", "color": "blue"}, {"name": "c1"},  # null color
    ])
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "sort": [{"name": "desc"}],
        "collapse": {"field": "color"},
    }), content_type="application/json")
    assert r.status_code == 200
    hits = r.get_json()["hits"]
    # one hit per color (null is its own group), best under the sort;
    # totals count PRE-collapse matches like ES
    assert hits["total"] == {"value": 4, "relation": "eq"}
    got = [(h["_source"]["name"], h["_source"]["color"])
           for h in hits["hits"]]
    assert got == [("c1", None), ("b1", "blue"), ("a2", "red")]
    # collapse without sort is a named 400
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "collapse": {"field": "color"},
    }), content_type="application/json")
    assert r.status_code == 400 and "sort" in r.get_json()["error"]


def test_advanced_post_filter(client, service):
    """aggs see the query scope; hits (and totals) see query AND
    post_filter — ES's faceted-navigation contract."""
    service.ingest("label", [
        {"name": "spark a", "color": "red"},
        {"name": "spark b", "color": "blue"},
        {"name": "other", "color": "red"},
    ])
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"match": {"name": "spark"}},
        "post_filter": {"term": {"color": "red"}},
        "aggs": {"colors": {"terms": {"field": "color"}}},
    }), content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    # hits: only the red spark doc
    assert body["hits"]["total"] == {"value": 1, "relation": "eq"}
    assert body["hits"]["hits"][0]["_source"]["name"] == "spark a"
    # aggs: BOTH colors of the query scope (post_filter not applied)
    buckets = {b["key"]: b["doc_count"]
               for b in body["aggregations"]["colors"]["buckets"]}
    assert buckets == {"red": 1, "blue": 1}


def test_advanced_track_total_hits(client, service):
    service.ingest("label", [{"name": f"item {i}"} for i in range(7)])

    def post(extra):
        body = {"table": "data_lake_label", "query": {"match_all": {}},
                "size": 2, **extra}
        r = client.post("/search/advanced", data=json.dumps(body),
                        content_type="application/json")
        assert r.status_code == 200, r.get_json()
        return r.get_json()["hits"]

    # default: k+1 budget -> lower bound past the page
    assert post({})["total"] == {"value": 2, "relation": "gte"}
    # true: exact (one count job — ES's cost model)
    assert post({"track_total_hits": True})["total"] \
        == {"value": 7, "relation": "eq"}
    # integer bound: exact up to n, {n, gte} beyond
    assert post({"track_total_hits": 4})["total"] \
        == {"value": 4, "relation": "gte"}
    assert post({"track_total_hits": 100})["total"] \
        == {"value": 7, "relation": "eq"}
    # false: no total at all (page still returned)
    env = post({"track_total_hits": False})
    assert "total" not in env and len(env["hits"]) == 2
    # sorted path honors false too
    env = post({"track_total_hits": False, "sort": ["name"]})
    assert "total" not in env and len(env["hits"]) == 2
    # malformed value is the client's 400
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
        "track_total_hits": "maybe",
    }), content_type="application/json")
    assert r.status_code == 400


def test_wire_envelope_mirrors_reference_top_level_keys(client, service):
    """The reference returns results['hits'] UNWRAPPED — a client
    reading resp["total"]["value"] / resp["max_score"] must work
    against these routes too (r5 advisory api.py:666). Documented
    divergence: resp["hits"] stays the ES object; the hit list lives at
    resp["hits"]["hits"]."""
    service.ingest("label", [{"name": "spark engine"},
                             {"name": "pandas loop"}])
    r = client.post("/search", data=json.dumps({"query": "spark"}),
                    content_type="application/json")
    body = r.get_json()
    assert body["total"] == body["hits"]["total"]
    assert body["total"]["value"] == 1
    assert body["max_score"] == body["hits"]["hits"][0]["_score"]
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label", "query": {"match_all": {}},
    }), content_type="application/json")
    body = r.get_json()
    assert body["total"] == {"value": 2, "relation": "eq"}
    assert body["max_score"] is None  # filter context: no scores


def test_resync_ticket_point_merge(service, spark):
    import datetime as dt

    from pyspark.sql import Row
    from sql_database_to_elastic_datalake_spark.schemas import ENTITY_SCHEMAS

    def df(entity, rows):
        sch = ENTITY_SCHEMAS[entity]
        names = [f.name for f in sch.fields]
        return spark.createDataFrame(
            [tuple(r.get(n) for n in names) for r in rows], sch
        )

    T0 = dt.datetime(2024, 1, 1)
    entities = dict(
        Ticket=df("Ticket", [dict(id="t1", number=1, createdAt=T0,
                                  dataSourceId="d1", moduleId="m1")]),
        TicketStatus=df("TicketStatus", [dict(id="ts1", ticketId="t1",
                                              statusId="s1", createdAt=T0)]),
        Status=df("Status", [dict(id="s1", name="Open", isFinalStatus=False,
                                  createdAt=T0)]),
        Module=df("Module", [dict(id="m1", name="M", type="X", createdAt=T0)]),
        DataSource=df("DataSource", [dict(id="d1", name="D", entityName="e",
                                          gatewayType="API", moduleId="m1",
                                          statusId="s1", createdAt=T0)]),
        User=df("User", []),
        TicketLabel=df("TicketLabel", []),
        Label=df("Label", []),
    )
    out1 = service.resync_ticket(entities, "t1", "2026-01-01T00:00:00")
    assert (out1["status_code"], out1["synced"], out1["ticket_id"]) \
        == (200, 1, "t1")
    # reference sync response shape rides along
    # (ticket_routes.py:240-245)
    assert out1["status"] == "success" and "synced" in out1["message"]
    out2 = service.resync_ticket(entities, "t1", "2026-01-02T00:00:00")
    assert out2["status_code"] == 200
    lake = service.spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_denormalized_ticket")
    ).collect()
    # MERGE keyed on ticket_id: one row, newest indexed_at won
    assert len(lake) == 1 and lake[0]["indexed_at"] == "2026-01-02T00:00:00"
    # unknown ticket → 404-style
    assert service.resync_ticket(entities, "missing", "2026-01-03")["status_code"] == 404


def test_resync_entity_point_merge(service, spark):
    import datetime as dt

    from sql_database_to_elastic_datalake_spark.api import resync_entity
    from sql_database_to_elastic_datalake_spark.schemas import ENTITY_SCHEMAS

    def df(entity, rows):
        sch = ENTITY_SCHEMAS[entity]
        names = [f.name for f in sch.fields]
        return spark.createDataFrame(
            [tuple(r.get(n) for n in names) for r in rows], sch
        )

    T0 = dt.datetime(2024, 1, 1)
    entities = dict(
        User=df("User", [
            dict(id="u1", name="A", username="a", email="a@x", password="p",
                 createdAt=T0),
            dict(id="u2", name="B", username="b", email="b@x", password="p",
                 createdAt=T0),
        ]),
    )
    out = resync_entity(service, entities, "user", "u1", "2026-01-01T00:00:00")
    assert out["status_code"] == 200 and out["synced"] == 1
    out2 = resync_entity(service, entities, "user", "u1", "2026-01-02T00:00:00")
    assert out2["status_code"] == 200
    lake = spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_denorm_user")
    ).collect()
    assert len(lake) == 1 and lake[0]["indexed_at"] == "2026-01-02T00:00:00"
    assert resync_entity(service, entities, "module", "m1", "x")["status_code"] == 404


def test_generic_table_sync_idempotent(spark):
    from pyspark.sql import Row

    from sql_database_to_elastic_datalake_spark.generic import (
        sync_generic_table,
    )

    df = spark.createDataFrame(
        [Row(id=1, name="x", deletedAt=None),
         Row(id=1, name="x", deletedAt=None),  # duplicate content
         Row(id=2, name="y", deletedAt="2024")]  # soft-deleted
    )
    out = sync_generic_table(df, "t")
    rows = out.collect()
    assert len(rows) == 2  # soft-deleted dropped
    assert rows[0]["doc_id"] == rows[1]["doc_id"]  # same content, same id
    assert out.columns == ["t_id", "t_name", "t_deletedAt", "table", "doc_id"]


def test_search_skips_numeric_only_tables(service, spark, tmp_path):
    """A table with no string columns can never match a term query; the
    cross-table search must skip it instead of failing the union."""
    import os

    from pyspark.sql import Row

    numeric = spark.createDataFrame([Row(a=1, b=2.5), Row(a=3, b=4.5)])
    numeric.write.mode("overwrite").parquet(
        os.path.join(service.lake_dir, "data_lake_numbers")
    )
    out = service.search("spark")
    assert "hits" in out and isinstance(out["hits"]["hits"], list)
    assert all(h["_index"] != "data_lake_numbers" for h in out["hits"]["hits"])


def _entity_df(spark, entity, rows):
    from sql_database_to_elastic_datalake_spark.schemas import ENTITY_SCHEMAS

    sch = ENTITY_SCHEMAS[entity]
    names = [f.name for f in sch.fields]
    return spark.createDataFrame([tuple(r.get(n) for n in names) for r in rows], sch)


def test_route_singularization(client, service):
    """/statuses and /data-sources must resolve their entity types —
    rstrip('s') yields 'statuse' / 'data-source' and 404s both
    (reference routes status_routes.py / data_source_routes.py)."""
    r = client.post("/statuses/batch", data=json.dumps([{"name": "Open"}]),
                    content_type="application/json")
    assert r.status_code == 200, r.get_json()
    r = client.post("/data-sources/batch",
                    data=json.dumps([{"name": "D", "entityName": "e"}]),
                    content_type="application/json")
    assert r.status_code in (200, 207, 400)  # resolved (not 404-unknown)
    assert "unknown entity" not in json.dumps(r.get_json())


def test_sync_routes(service, spark):
    """POST /<entity>/sync — the reference's per-entity point re-sync
    blueprints (I1/I2) — wired to resync_ticket/resync_entity; 503
    without source tables; static /sync wins over the generic
    /<entity>/<entity2> ingest route."""
    import datetime as dt

    flask = pytest.importorskip("flask")  # noqa: F841
    T0 = dt.datetime(2024, 1, 1)
    entities = dict(
        Ticket=_entity_df(spark, "Ticket", [dict(id="t1", number=1, createdAt=T0,
                                                 dataSourceId="d1", moduleId="m1")]),
        TicketStatus=_entity_df(spark, "TicketStatus", []),
        Status=_entity_df(spark, "Status", []),
        Module=_entity_df(spark, "Module", []),
        DataSource=_entity_df(spark, "DataSource", []),
        User=_entity_df(spark, "User", [
            dict(id="u1", name="A", username="a", email="a@x", password="p",
                 createdAt=T0)]),
        TicketLabel=_entity_df(spark, "TicketLabel", []),
        Label=_entity_df(spark, "Label", []),
    )
    app = create_app(service, entities=entities)
    app.testing = True
    c = app.test_client()

    r = c.post("/tickets/sync", data=json.dumps({"id": "t1"}),
               content_type="application/json")
    assert r.status_code == 200 and r.get_json()["synced"] == 1
    r = c.post("/users/sync", data=json.dumps({"id": "u1"}),
               content_type="application/json")
    assert r.status_code == 200 and r.get_json()["synced"] == 1
    r = c.post("/tickets/sync", data=json.dumps({}),
               content_type="application/json")
    assert r.status_code == 400

    # unconfigured app: 503, NOT a silent fall-through to ingest
    bare = create_app(service)
    bare.testing = True
    r = bare.test_client().post("/tickets/sync", data=json.dumps({"id": "t1"}),
                                content_type="application/json")
    assert r.status_code == 503

    # partially populated entities dir: a clean 503 naming the missing
    # tables, never a KeyError->500 from inside the sync plan
    partial = create_app(service, entities={"Ticket": entities["Ticket"]})
    partial.testing = True
    r = partial.test_client().post(
        "/tickets/sync", data=json.dumps({"id": "t1"}),
        content_type="application/json")
    assert r.status_code == 503
    assert "Status" in r.get_json()["missing"]

    # empty/absent body: 400 missing-id, not a crash on None.get
    r = c.post("/tickets/sync", data=b"", content_type="application/json")
    assert r.status_code == 400
    assert r.get_json()["error"] == "missing id"

    # a valid NON-OBJECT JSON body (array/string/number) is a different
    # client error and must be NAMED, not coerced into "missing id"
    for bad in (json.dumps(["t1"]), json.dumps("t1"), json.dumps(7)):
        r = c.post("/tickets/sync", data=bad,
                   content_type="application/json")
        assert r.status_code == 400
        assert r.get_json()["error"] == "body must be a JSON object"

    # the reference's REAL wire paths are doubled (blueprint url_prefix
    # repeats the segment: /users/users/sync, /tickets/tickets/batch);
    # the literal aliases must behave identically to the clean paths
    r = c.post("/users/users/sync", data=json.dumps({"id": "u1"}),
               content_type="application/json")
    assert r.status_code == 200 and r.get_json()["synced"] == 1
    r = c.post("/tickets/tickets/batch", data=json.dumps(
        [{"id": "t9", "ticket_number": 9}]),
        content_type="application/json")
    assert r.status_code in (200, 207), r.get_json()
    # mismatched segments are nobody's path
    r = c.post("/tickets/labels/batch", data=json.dumps([]),
               content_type="application/json")
    assert r.status_code == 404


def test_advanced_search_bad_dsl_is_400(client, service):
    service.ingest("label", [{"name": "x"}])
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_label",
        "query": {"multi_match": {"query": "x"}},  # fields omitted
    }), content_type="application/json")
    assert r.status_code == 400
    assert "fields" in r.get_json()["error"]


def test_search_ranked_offset_pages(service):
    """r7: `from` on the RANKED path (ES's default `_score` sort) —
    three pages with no overlap and no gap, totals exact on every
    page. Distinct per-doc scores make the order total."""
    service.ingest("label", [
        {"name": ("spark " * (i + 1)).strip()} for i in range(25)
    ])
    paged = []
    for frm in (0, 10, 20):
        out = service.search("spark", k=10, from_=frm)
        assert out["hits"]["total"] == {"value": 25, "relation": "eq"}
        paged += [h["_source"]["name"] for h in out["hits"]["hits"]]
    full = [h["_source"]["name"]
            for h in service.search("spark", k=30)["hits"]["hits"]]
    assert len(paged) == 25
    assert paged == full  # page concatenation == the one-shot ranking
    # past-the-end page is empty, total still exact
    out = service.search("spark", k=10, from_=25)
    assert out["hits"]["hits"] == []
    assert out["hits"]["total"]["value"] == 25


def test_search_route_accepts_from(client, service):
    service.ingest("label", [{"name": f"spark {i}"} for i in range(5)])
    r = client.post("/search", data=json.dumps(
        {"query": "spark", "size": 2, "from": 2}),
        content_type="application/json")
    assert r.status_code == 200
    assert len(r.get_json()["hits"]["hits"]) == 2
    r = client.post("/search", data=json.dumps(
        {"query": "spark", "from": -1}),
        content_type="application/json")
    assert r.status_code == 400 and "from" in r.get_json()["error"]


def test_search_string_tables_is_one_index_expression(client, service):
    service.ingest("label", [{"name": "spark label"}])
    service.ingest("user", [{"name": "spark user", "email": "u@x.io",
                             "username": "u"}])
    for tables, want in (("data_lake_label", {"data_lake_label"}),
                         ("data_lake_*", {"data_lake_label",
                                          "data_lake_user"})):
        r = client.post("/search", json={"query": "spark",
                                         "tables": tables})
        assert r.status_code == 200, r.get_json()
        assert {h["_index"] for h in r.get_json()["hits"]["hits"]} == want


@pytest.mark.parametrize("tables", [5, {"data_lake_label": 1},
                                    ["data_lake_label", 5], [None]])
def test_search_malformed_tables_is_named_400(client, service, tables):
    service.ingest("label", [{"name": "spark label"}])
    r = client.post("/search", json={"query": "spark", "tables": tables})
    assert r.status_code == 400 and "tables" in r.get_json()["error"]


@pytest.mark.parametrize("body", [{"query": 5}, {"search_term": 5},
                                  {"query": ["spark"]},
                                  {"query": {"match_all": {}}}])
def test_search_non_string_query_is_named_400(client, service, body):
    service.ingest("label", [{"name": "spark label"}])
    r = client.post("/search", json=body)
    assert r.status_code == 400 and "query" in r.get_json()["error"]


def test_collapse_dedupes_across_index_pattern(service):
    """r6 advisory: ES field collapsing guarantees ONE hit per key
    globally across indices — a pattern request must re-collapse the
    merged per-table winners."""
    service.ingest("label", [
        {"name": "z-label", "color": "red"},
        {"name": "m-label", "color": "blue"},
    ])
    service.ingest("user", [
        {"name": "a-user", "color": "red",
         "email": "u@x.io", "username": "u"},
    ])
    out = service.advanced_search(
        "data_lake_*", {"match_all": {}},
        sort=[{"name": "desc"}], collapse={"field": "color"})
    got = [(h["fields"]["color"][0], h["_source"]["name"])
           for h in out["hits"]["hits"]]
    # red exists in BOTH tables: one global red hit — the best in
    # merged sort order; totals stay pre-collapse
    assert got == [("red", "z-label"), ("blue", "m-label")]
    assert out["hits"]["total"] == {"value": 3, "relation": "eq"}


def test_fields_retrieval_option(service, spark):
    """r7: ES's `fields` option — pattern expansion, per-entry date
    format, always-array values, nulls omitted; merges with the
    collapse key rather than overwriting it."""
    import datetime as dt

    df = spark.createDataFrame(
        [(1, "alpha", dt.datetime(2024, 1, 1, 10)),
         (2, None, dt.datetime(2024, 1, 2, 11)),
         (3, "beta", None)],
        "id long, name string, ts timestamp")
    df.write.parquet(os.path.join(service.lake_dir, "data_lake_f"))
    out = service.advanced_search(
        "data_lake_f", {"match_all": {}}, k=10,
        sort=[{"id": "asc"}],
        fields_opt=["na*", {"field": "ts", "format": "yyyy-MM-dd"},
                    "ghost*"])
    hits = out["hits"]["hits"]
    assert hits[0]["fields"] == {"name": ["alpha"],
                                 "ts": ["2024-01-01"]}
    assert hits[1]["fields"] == {"ts": ["2024-01-02"]}  # null omitted
    assert hits[2]["fields"] == {"name": ["beta"]}
    # route-level: `fields` is an accepted body key
    from sql_database_to_elastic_datalake_spark.api import create_app

    pytest.importorskip("flask")
    app = create_app(service)
    app.testing = True
    r = app.test_client().post("/search/advanced", json={
        "table": "data_lake_f", "sort": [{"id": "asc"}],
        "fields": [{"field": "ts", "format": "epoch_millis"}]})
    assert r.status_code == 200
    ms = r.get_json()["hits"]["hits"][0]["fields"]["ts"][0]
    assert ms == 1704103200000
    # malformed entries are named 400s
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="fields entry"):
        service.advanced_search("data_lake_f", {"match_all": {}},
                                fields_opt=[42])


def test_sort_options_missing_mode_unmapped(service, spark):
    """r7: sort `missing` placement (+custom substitute), array
    `mode`, `unmapped_type` under an index pattern, and the
    search_after exclusion."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, "b", [1, 9]), (2, None, [5]), (3, "a", None)],
        "id long, name string, vals array<long>",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_s1"))
    spark.createDataFrame(
        [(4, 7.5)], "id long, extra double",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_s2"))

    out = service.advanced_search(
        "data_lake_s1", {"match_all": {}}, k=10,
        sort=[{"name": {"order": "asc", "missing": "_last"}}])
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == \
        [3, 1, 2]
    out = service.advanced_search(
        "data_lake_s1", {"match_all": {}}, k=10,
        sort=[{"name": {"order": "asc", "missing": "zz"}}])
    assert [h["sort"] for h in out["hits"]["hits"]] == \
        [["a"], ["b"], ["zz"]]
    out = service.advanced_search(
        "data_lake_s1", {"match_all": {}}, k=10,
        sort=[{"vals": {"order": "desc", "mode": "sum"}},
              {"id": "asc"}])
    assert [h["sort"][0] for h in out["hits"]["hits"]] == \
        [10.0, 5.0, None]
    # unmapped_type lets a pattern query sort on a field only one
    # table has: s1 rows sort as null (first, asc default)
    out = service.advanced_search(
        "data_lake_s*", {"match_all": {}}, k=10,
        sort=[{"extra": {"order": "asc", "unmapped_type": "double"}},
              {"id": "asc"}])
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == \
        [1, 2, 3, 4]
    # ...and missing "_last" flips the null placement ACROSS tables
    out = service.advanced_search(
        "data_lake_s*", {"match_all": {}}, k=10,
        sort=[{"extra": {"order": "asc", "unmapped_type": "double",
                         "missing": "_last"}},
              {"id": "asc"}])
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == \
        [4, 1, 2, 3]
    with pytest.raises(DslError, match="search_after"):
        service.advanced_search(
            "data_lake_s1", {"match_all": {}},
            sort=[{"name": {"order": "asc", "missing": "_last"}}],
            search_after=["a"])
    with pytest.raises(DslError, match="sort options"):
        service.advanced_search(
            "data_lake_s1", {"match_all": {}},
            sort=[{"name": {"order": "asc", "format": "x"}}])


def test_min_score_floors_hits_and_total(service, spark):
    """r7: min_score drops sub-threshold hits from the page AND the
    total (ES's contract) on the ranked path."""
    spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark"), (3, "nothing")],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_ms"))
    out = service.search("spark", ["data_lake_ms"], k=10)
    assert out["hits"]["total"]["value"] == 2
    out = service.search("spark", ["data_lake_ms"], k=10, min_score=2)
    assert out["hits"]["total"]["value"] == 1
    assert out["hits"]["hits"][0]["_score"] >= 2
    pytest.importorskip("flask")
    app = create_app(service)
    app.testing = True
    r = app.test_client().post("/search", json={
        "search_term": "spark", "tables": ["data_lake_ms"],
        "min_score": "high"})
    assert r.status_code == 400


def test_suggest_term_suggester(service, spark):
    """r7: the term suggester — per-token options with offset/length,
    suggest_mode gating, named 400s for the unimplemented suggesters."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, "spark merges tables fast"), (2, "spark merge loop"),
         (3, "pandas table scan")],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_sg"))
    out = service.advanced_search(
        "data_lake_sg", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "spak tabel",
                         "term": {"field": "txt", "size": 2}}})
    ent = out["suggest"]["fix"]
    assert [e["text"] for e in ent] == ["spak", "tabel"]
    assert ent[0]["offset"] == 0 and ent[1]["offset"] == 5
    assert ent[0]["options"][0]["text"] == "spark"
    assert ent[0]["options"][0]["freq"] == 2
    # suggest_mode "missing" (default): a correctly-spelled token gets
    # no options
    out = service.advanced_search(
        "data_lake_sg", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "merge",
                         "term": {"field": "txt"}}})
    assert out["suggest"]["fix"][0]["options"] == []
    # ...but "always" suggests anyway ("merges" is one edit away)
    out = service.advanced_search(
        "data_lake_sg", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "merge", "term": {
            "field": "txt", "suggest_mode": "always"}}})
    assert out["suggest"]["fix"][0]["options"][0]["text"] == "merges"
    # offsets are spans in the ORIGINAL text: case-folding 'İ' grows
    # it to two codepoints, which used to shift every later offset
    # (r7 ADVICE fix — spans now come from finditer, never re-finding
    # lowered tokens)
    out = service.advanced_search(
        "data_lake_sg", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "İ spak",
                         "term": {"field": "txt"}}})
    ent = out["suggest"]["fix"]
    assert [(e["text"], e["offset"], e["length"]) for e in ent] == \
        [("spak", 2, 4)]
    # r9 (r8 ADVICE): the job scores exactly the tokens the envelope
    # emits — one shared analyzer pass. 'İstanbul' lower-folds to
    # 'i̇stanbul', which used to hand the job a token 'i' that no
    # entry could ever surface; now both sides see only 'stanbul'
    # (offset 1 in the original text) and the candidates land on it
    out = service.advanced_search(
        "data_lake_sg", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "İstanbul spak",
                         "term": {"field": "txt"}}})
    ent = out["suggest"]["fix"]
    assert [(e["text"], e["offset"], e["length"]) for e in ent] == \
        [("stanbul", 1, 7), ("spak", 9, 4)]
    assert ent[1]["options"][0]["text"] == "spark"
    # completion is now the value-dictionary prefix lookup (r9): the
    # legacy "text" spelling works as the prefix
    out = service.advanced_search(
        "data_lake_sg", {"match_all": {}}, k=1,
        suggest={"c": {"text": "spark m",
                       "completion": {"field": "txt"}}})
    ent = out["suggest"]["c"][0]
    assert (ent["text"], ent["offset"], ent["length"]) == \
        ("spark m", 0, 7)
    assert [o["text"] for o in ent["options"]] == \
        ["spark merge loop", "spark merges tables fast"]
    spark.createDataFrame([(9,)], "id long").write.parquet(
        os.path.join(service.lake_dir, "data_lake_other"))
    with pytest.raises(DslError, match="single concrete"):
        service.advanced_search(
            "data_lake_*", {"match_all": {}},
            suggest={"f": {"text": "x", "term": {"field": "txt"}}})


def test_rescore_two_phase_ranking(service, spark):
    """r7: rescore re-ranks the top window by the combined score;
    docs beyond the window keep original order; score_modes and named
    400s."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, "spark spark spark", "loop"),
         (2, "spark", "loop loop loop loop"),
         (3, "spark spark", "nothing")],
        "id long, txt string, extra string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_r"))
    base = service.search("spark", ["data_lake_r"], k=3)
    assert [h["_source"]["id"] for h in base["hits"]["hits"]] == \
        [1, 3, 2]
    out = service.search("spark", ["data_lake_r"], k=3, rescore={
        "window_size": 2,
        "query": {"rescore_query": {"match": {"extra": "loop"}},
                  "rescore_query_weight": 2.0}})
    hits = out["hits"]["hits"]
    # window of 2: doc1 3+2·1=5, doc3 2+0=2; doc2 outside the window
    # keeps its original score and position (its 4 loops don't count)
    assert [(h["_source"]["id"], h["_score"]) for h in hits] == \
        [(1, 5.0), (3, 2.0), (2, 1.0)]
    # multiply mode and a window covering everything
    out = service.search("spark", ["data_lake_r"], k=3, rescore={
        "window_size": 10,
        "query": {"rescore_query": {"match": {"extra": "loop"}},
                  "score_mode": "multiply"}})
    hits = out["hits"]["hits"]
    # combined: doc1 3·1=3, doc2 1·4=4; doc3 does NOT match the
    # rescore query, so ES keeps query_weight·original = 2 — multiply
    # must not zero it out (r7 ADVICE fix)
    assert [(h["_source"]["id"], h["_score"]) for h in hits] == \
        [(2, 4.0), (1, 3.0), (3, 2.0)]
    with pytest.raises(DslError, match="rescore_query kind"):
        service.search("spark", ["data_lake_r"], rescore={
            "query": {"rescore_query": {"term": {"extra": "loop"}}}})
    with pytest.raises(DslError, match="score_mode"):
        service.search("spark", ["data_lake_r"], rescore={
            "query": {"rescore_query": {"match": {"extra": "loop"}},
                      "score_mode": "sum"}})


def test_knn_vector_search(service, spark):
    """r7: the ES 8.x knn body key — exact cosine top-k, (1+cos)/2
    scoring, pre-filter semantics for knn.filter AND the sibling
    query, similarity floor, named 400s for unsupported combos."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "b"),
         (3, [0.0, 1.0], "a"), (4, None, "a")],
        "id long, vec array<float>, tag string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_v"))
    out = service.advanced_search(
        "data_lake_v", {"match_all": {}}, k=2,
        knn={"field": "vec", "query_vector": [1.0, 0.0], "k": 2})
    hits = out["hits"]["hits"]
    assert [h["_source"]["id"] for h in hits] == [1, 2]
    assert hits[0]["_score"] == pytest.approx(1.0)
    # knn.filter pre-filters; the null-vector doc never scores
    out = service.advanced_search(
        "data_lake_v", {"match_all": {}}, k=3,
        knn={"field": "vec", "query_vector": [1.0, 0.0], "k": 3,
             "filter": {"term": {"tag": "a"}}})
    assert [h["_source"]["id"]
            for h in out["hits"]["hits"]] == [1, 3]
    # a sibling query restricts the candidate set (documented
    # divergence: ES would score-blend)
    out = service.advanced_search(
        "data_lake_v", {"term": {"tag": "b"}}, k=3,
        knn={"field": "vec", "query_vector": [1.0, 0.0], "k": 3})
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == [2]
    # similarity floor applies on the raw cosine
    out = service.advanced_search(
        "data_lake_v", {"match_all": {}}, k=3,
        knn={"field": "vec", "query_vector": [1.0, 0.0], "k": 3,
             "similarity": 0.99})
    assert [h["_source"]["id"]
            for h in out["hits"]["hits"]] == [1, 2]
    # knn.k smaller than size caps BOTH the page and the total — ES
    # returns at most knn.k hits when knn is the only query; the page
    # must not backfill with docs beyond the k nearest (r8 fix)
    out = service.advanced_search(
        "data_lake_v", {"match_all": {}}, k=3,
        knn={"field": "vec", "query_vector": [1.0, 0.0], "k": 1})
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == [1]
    assert out["hits"]["total"]["value"] == 1
    with pytest.raises(DslError, match="knn is not supported with"):
        service.advanced_search(
            "data_lake_v", {"match_all": {}}, sort=[{"id": "asc"}],
            knn={"field": "vec", "query_vector": [1.0, 0.0]})
    with pytest.raises(DslError, match="unknown knn field"):
        service.advanced_search(
            "data_lake_v", {"match_all": {}},
            knn={"field": "ghost", "query_vector": [1.0, 0.0]})


def test_docvalue_fields_spelling(client, service, spark):
    """r7: docvalue_fields (the pre-8.x Kibana spelling) feeds the
    same fields-option machinery and merges with `fields`."""
    import datetime as dt

    spark.createDataFrame(
        [(1, "x", dt.datetime(2024, 2, 1))],
        "id long, name string, ts timestamp",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_dv"))
    r = client.post("/search/advanced", json={
        "table": "data_lake_dv", "sort": [{"id": "asc"}],
        "fields": ["name"],
        "docvalue_fields": [{"field": "ts", "format": "epoch_millis"}],
    })
    assert r.status_code == 200
    f = r.get_json()["hits"]["hits"][0]["fields"]
    assert f["name"] == ["x"] and f["ts"] == [1706745600000]


def test_highlight_fragment_windowing(service, spark):
    """r7: fragment_size/number_of_fragments produce match-centered
    windows (position order); number_of_fragments 0 = whole value;
    per-field options override request-level ones."""
    long = ("alpha " * 30) + "needle" + (" beta" * 30) + " needle end"
    spark.createDataFrame(
        [(1, long)], "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_hl"))
    out = service.advanced_search(
        "data_lake_hl", {"match": {"txt": "needle"}}, k=1,
        highlight={"fields": {"txt": {}}, "fragment_size": 30})
    frags = out["hits"]["hits"][0]["highlight"]["txt"]
    assert len(frags) == 2
    assert all("<em>needle</em>" in f for f in frags)
    # window ≤ fragment_size + tags + the match, grown ≤ one "alpha "
    # word per edge by the boundary snap (r11 late: edges land on
    # boundary chars instead of mid-word)
    assert all(len(f) <= 30 + len("<em></em>") + len("needle") + 12
               for f in frags)
    assert all(not f.startswith("lpha") and not f.startswith("pha")
               for f in frags)
    # number_of_fragments caps in position order
    out = service.advanced_search(
        "data_lake_hl", {"match": {"txt": "needle"}}, k=1,
        highlight={"fields": {"txt": {"number_of_fragments": 1}},
                   "fragment_size": 30})
    frags = out["hits"]["hits"][0]["highlight"]["txt"]
    assert len(frags) == 1 and "alpha" in frags[0]
    # 0 = no fragmentation (ES), whole value comes back
    out = service.advanced_search(
        "data_lake_hl", {"match": {"txt": "needle"}}, k=1,
        highlight={"fields": {"txt": {"number_of_fragments": 0}},
                   "fragment_size": 30})
    frags = out["hits"]["hits"][0]["highlight"]["txt"]
    assert len(frags) == 1 and frags[0].endswith("end")
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="boundary_scanner"):
        service.advanced_search(
            "data_lake_hl", {"match": {"txt": "needle"}},
            highlight={"fields": {"txt": {}}, "boundary_scanner": "x"})
    with pytest.raises(DslError, match="boundary_scanner"):
        service.advanced_search(
            "data_lake_hl", {"match": {"txt": "needle"}},
            highlight={"fields": {"txt": {}},
                       "boundary_scanner": "word"})


def test_highlight_sentence_boundary_scanner(service, spark):
    """r12 (verdict #6): boundary_scanner "sentence" — the unified
    highlighter's default — returns whole-sentence fragments: the
    sentence containing the match, extended forward by whole sentences
    within fragment_size. Pins the BreakIterator edge cases: an
    abbreviation-adjacent match (e.g. + lowercase does not split, ICU
    SB8), matches at fragment/value edges, and a sentence longer than
    fragment_size surviving whole."""
    rows = [
        (1, "First sentence here. The needle is in this one! "
            "A third sentence. And a fourth one follows."),
        (2, "Results improve, e.g. the needle case. Unrelated tail."),
        (3, "Needle starts the value. Second part."),
        (4, "The tail holds the needle"),
        (5, "This single enormous sentence mentions the needle and "
            "then keeps going on and on without any terminator at "
            "all so it exceeds the fragment goal by a wide margin"),
    ]
    spark.createDataFrame(rows, "id long, txt string").write.parquet(
        os.path.join(service.lake_dir, "data_lake_hls"))

    def frags(i, **hl):
        out = service.advanced_search(
            "data_lake_hls",
            {"bool": {"must": [{"term": {"id": i}},
                               {"match": {"txt": "needle"}}]}},
            k=1, highlight={"fields": {"txt": {}},
                            "boundary_scanner": "sentence", **hl})
        return out["hits"]["hits"][0]["highlight"]["txt"]

    # the fragment is the WHOLE containing sentence (trailing space
    # with the preceding sentence, per the BreakIterator convention)
    [f] = frags(1, fragment_size=40)
    assert f == "The <em>needle</em> is in this one! "
    # length-goal: a bigger budget pulls in following whole sentences
    # (60 fits the third sentence, 45+25 for the fourth exceeds it)
    [f] = frags(1, fragment_size=60)
    assert f == "The <em>needle</em> is in this one! A third sentence. "
    # SB8: "e.g. the" does not split — the abbreviation-adjacent match
    # stays inside ONE sentence fragment
    [f] = frags(2, fragment_size=45)
    assert f == "Results improve, e.g. the <em>needle</em> case. "
    # match at value start / value end
    [f] = frags(3, fragment_size=30)
    assert f.startswith("<em>Needle</em> starts")
    [f] = frags(4, fragment_size=30)
    assert f == "The tail holds the <em>needle</em>"
    # a sentence longer than fragment_size stays whole — the match is
    # never cut
    [f] = frags(5, fragment_size=30)
    assert "<em>needle</em>" in f and f.endswith("wide margin")


def test_highlight_order_score_and_max_score(service, spark):
    """r12: highlight ``order: "score"`` returns the best-scoring
    fragments first (deterministic passage score = matched-occurrence
    count, position tie-break) and the cap keeps the best; ranked
    pages carry ES's ``hits.max_score``."""
    filler = "x" * 200
    spark.createDataFrame(
        [(1, f"needle once here {filler} "
             f"needle and needle and needle together {filler} "
             f"needle pair needle {filler}")],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_hlo"))
    out = service.advanced_search(
        "data_lake_hlo", {"match": {"txt": "needle"}}, k=1,
        highlight={"fields": {"txt": {}}, "fragment_size": 60,
                   "order": "score", "number_of_fragments": 2})
    frags = out["hits"]["hits"][0]["highlight"]["txt"]
    assert len(frags) == 2
    # best fragment first: the 3-needle window, then the 2-needle one;
    # the single-needle window is capped away
    assert frags[0].count("<em>needle</em>") == 3
    assert frags[1].count("<em>needle</em>") == 2
    # position order (default) returns the 1-needle window first
    out = service.advanced_search(
        "data_lake_hlo", {"match": {"txt": "needle"}}, k=1,
        highlight={"fields": {"txt": {}}, "fragment_size": 60,
                   "number_of_fragments": 2})
    assert out["hits"]["hits"][0]["highlight"]["txt"][0].count(
        "<em>needle</em>") == 1
    # bad order value stays a named 400
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="order"):
        service.advanced_search(
            "data_lake_hlo", {"match": {"txt": "needle"}},
            highlight={"fields": {"txt": {}}, "order": "relevance"})
    # hits.max_score on the ranked page (top-level text query)
    out = service.advanced_search(
        "data_lake_hlo",
        {"multi_match": {"query": "needle", "fields": ["txt"]}}, k=1)
    assert out["hits"]["max_score"] == out["hits"]["hits"][0]["_score"]
    out = service.advanced_search(
        "data_lake_hlo",
        {"multi_match": {"query": "zzz-absent", "fields": ["txt"]}},
        k=1)
    assert out["hits"]["max_score"] is None


def test_highlight_defaults_window_like_es(service, spark):
    """r11 (verdict #3): with NO fragment options, highlight windows
    to ES's defaults (fragment_size 100, number_of_fragments 5) — a
    long document comes back as snippets, not one whole-value
    fragment. Boundary cases: match at value start/end, a match
    longer than fragment_size survives whole, short values stay
    intact, malformed options are named 400s."""
    filler = "x" * 400
    rows = [
        (1, f"needle {filler} needle {filler} needle {filler} "
            f"needle {filler} needle {filler} needle {filler} needle"),
        (2, "needle at the very start " + filler),
        (3, filler + " ends with needle"),
        (4, "short needle value"),
        (5, "wide" + "needle" * 40 + "wide"),  # match > fragment_size
    ]
    spark.createDataFrame(rows, "id long, txt string").write.parquet(
        os.path.join(service.lake_dir, "data_lake_hld"))

    def frags(i):
        out = service.advanced_search(
            "data_lake_hld",
            {"bool": {"must": [{"term": {"id": i}},
                               {"match": {"txt": "needle"}}]}},
            k=1, highlight={"fields": {"txt": {}}})
        return out["hits"]["hits"][0]["highlight"]["txt"]

    f1 = frags(1)
    assert len(f1) == 5                       # default cap, 7 matches
    assert all("<em>needle</em>" in f for f in f1)
    # each fragment is a ~100-char window, not the 2.8k document
    assert all(len(f) < 150 for f in f1)
    assert frags(2)[0].startswith("<em>needle</em> at the very start")
    assert frags(3)[0].endswith("ends with <em>needle</em>")
    # short value: the single window IS the whole value
    assert frags(4) == ["short <em>needle</em> value"]
    # a merged match run longer than fragment_size is never truncated
    f5 = frags(5)
    assert len(f5) == 1 and f5[0].count("needle") == 40
    # malformed fragment options are the client's named 400
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="fragment_size"):
        service.advanced_search(
            "data_lake_hld", {"match": {"txt": "needle"}}, k=1,
            highlight={"fields": {"txt": {}}, "fragment_size": "big"})
    with pytest.raises(DslError, match="number_of_fragments"):
        service.advanced_search(
            "data_lake_hld", {"match": {"txt": "needle"}}, k=1,
            highlight={"fields": {"txt": {"number_of_fragments": -1}}})


def test_highlight_boundary_snapping(service, spark):
    """r11 late: fragment edges snap to boundary chars (ES
    SimpleBoundaryScanner semantics: chars \".,!? \\t\\n\", max_scan
    20) so snippets never start or end mid-word when a boundary is in
    range; boundary_chars / boundary_max_scan / boundary_scanner are
    accepted at request and field level, word/sentence scanners are
    named 400s."""
    text = ("one. twosentence here with a needle inside the middle "
            "part. threelong continuation " + "y" * 60)
    spark.createDataFrame(
        [(1, text)], "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_hlb"))

    def frags(**hl_extra):
        out = service.advanced_search(
            "data_lake_hlb", {"match": {"txt": "needle"}}, k=1,
            highlight={"fields": {"txt": {}}, "fragment_size": 30,
                       **hl_extra})
        return out["hits"]["hits"][0]["highlight"]["txt"]

    [f] = frags()
    # default snap: starts right after a space, ends just after one
    assert "<em>needle</em>" in f
    assert not f.startswith("wosentence")  # no mid-word start
    assert f[-1] in ".,!? \t\n" or f.endswith("</em>")
    # a boundary_chars override changes where edges land: only '.'
    # boundaries → the fragment starts after "one." (scan hits the
    # period) or at the value start
    [g] = frags(boundary_chars=".", boundary_max_scan=1000)
    assert g.startswith(" twosentence") or g.startswith("one.")
    # boundary_max_scan 0 disables snapping (raw match-centered edges)
    [h] = frags(boundary_max_scan=0)
    assert "<em>needle</em>" in h
    # per-field override beats the request level
    out = service.advanced_search(
        "data_lake_hlb", {"match": {"txt": "needle"}}, k=1,
        highlight={"fields": {"txt": {"boundary_max_scan": 0}},
                   "fragment_size": 30, "boundary_max_scan": 1000})
    assert out["hits"]["hits"][0]["highlight"]["txt"] == [h]
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="boundary_chars"):
        frags(boundary_chars=7)
    with pytest.raises(DslError, match="boundary_max_scan"):
        frags(boundary_max_scan=-1)
    with pytest.raises(DslError, match="boundary_scanner"):
        service.advanced_search(
            "data_lake_hlb", {"match": {"txt": "needle"}}, k=1,
            highlight={"fields": {"txt": {"boundary_scanner": "word"}},
                       "fragment_size": 30})


def test_function_score_ranked_page(service, spark):
    """r9: top-level function_score ranks the page by the computed
    score — field_value_factor, filtered weight, decay, score/boost
    modes, max_boost, min_score — all column algebra."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, 4.0, "de"), (2, 100.0, "en"), (3, 25.0, "de"),
         (4, None, "en")],
        "id long, pop double, lang string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_fs"))
    out = service.advanced_search("data_lake_fs", {"function_score": {
        "query": {"match_all": {}},
        "functions": [
            {"field_value_factor": {"field": "pop",
                                    "modifier": "sqrt",
                                    "missing": 0}},
            {"filter": {"term": {"lang": "de"}}, "weight": 3.0},
        ],
        "score_mode": "sum", "boost_mode": "replace",
    }}, k=10)
    hits = out["hits"]["hits"]
    # doc2 sqrt(100)=10; doc3 5+3=8; doc1 2+3=5; doc4 missing→0
    assert [(h["_source"]["id"], h["_score"]) for h in hits] == \
        [(2, 10.0), (3, 8.0), (1, 5.0), (4, 0.0)]
    assert out["hits"]["total"] == {"value": 4, "relation": "eq"}
    # max_boost caps the function result; boost_mode sum adds the
    # filter-context base 1.0; min_score floors page AND total
    out = service.advanced_search("data_lake_fs", {"function_score": {
        "functions": [
            {"field_value_factor": {"field": "pop",
                                    "modifier": "sqrt",
                                    "missing": 0}}],
        "max_boost": 6.0, "boost_mode": "sum", "min_score": 4.0,
    }}, k=10)
    hits = out["hits"]["hits"]
    assert [(h["_source"]["id"], h["_score"]) for h in hits] == \
        [(2, 7.0), (3, 6.0)]
    assert out["hits"]["total"] == {"value": 2, "relation": "eq"}
    # score_mode multiply (default): a non-matching function is
    # neutral 1.0, not 0
    out = service.advanced_search("data_lake_fs", {"function_score": {
        "functions": [
            {"filter": {"term": {"lang": "de"}}, "weight": 4.0},
            {"filter": {"term": {"lang": "ghost"}}, "weight": 100.0},
        ],
    }}, k=10)
    scores = {h["_source"]["id"]: h["_score"]
              for h in out["hits"]["hits"]}
    assert scores[1] == 4.0 and scores[2] == 1.0
    # an explicit sort wins: the body compiles as membership and the
    # page is the sorted filter-context one (no _score)
    out = service.advanced_search(
        "data_lake_fs",
        {"function_score": {"query": {"term": {"lang": "de"}}}},
        k=10, sort=[{"id": "desc"}])
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == [3, 1]
    with pytest.raises(DslError, match="random_score"):
        service.advanced_search("data_lake_fs", {"function_score": {
            "functions": [{"random_score": {}}]}}, k=1)
    with pytest.raises(DslError, match="min_score needs scoring"):
        service.advanced_search("data_lake_fs", {"bool": {"filter": [
            {"function_score": {"query": {"match_all": {}},
                                "min_score": 2.0}}]}}, k=1)


def test_function_score_date_decay_and_script(service, spark):
    """r9: gauss/exp date decay (ISO origin, duration scale) and the
    script_score query over the painless subset."""
    import datetime as dt

    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 10.0),
         (2, dt.datetime(2024, 1, 6), 20.0),
         (3, dt.datetime(2024, 1, 11), 30.0), (4, None, 40.0)],
        "id long, ts timestamp, v double",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_dd"))
    out = service.advanced_search("data_lake_dd", {"function_score": {
        "functions": [{"gauss": {"ts": {
            "origin": "2024-01-01T00:00:00Z", "scale": "5d",
            "decay": 0.5}}}],
        "boost_mode": "replace",
    }}, k=10)
    scores = {h["_source"]["id"]: h["_score"]
              for h in out["hits"]["hits"]}
    assert scores[1] == pytest.approx(1.0)
    assert scores[2] == pytest.approx(0.5)      # one scale out
    assert scores[3] == pytest.approx(0.0625)   # two scales: decay^4
    assert scores[4] == pytest.approx(1.0)      # missing → neutral
    # 'now' anchors are a named 400 (deterministic-plan contract)
    with pytest.raises(DslError, match="'now' is not supported"):
        service.advanced_search("data_lake_dd", {"function_score": {
            "functions": [{"gauss": {"ts": {"origin": "now",
                                            "scale": "5d"}}}]}}, k=1)
    # script_score: doc access, params, _score, Math.*; null field
    # value drops the hit (documented posture)
    out = service.advanced_search("data_lake_dd", {"script_score": {
        "query": {"exists": {"field": "v"}},
        "script": {"source":
                   "Math.max(doc['v'].value, params.floor) / 10.0"
                   " + _score",
                   "params": {"floor": 15}},
    }}, k=10)
    assert [(h["_source"]["id"], h["_score"])
            for h in out["hits"]["hits"]] == \
        [(4, 5.0), (3, 4.0), (2, 3.0), (1, 2.5)]
    with pytest.raises(DslError, match="unsupported script syntax"):
        service.advanced_search("data_lake_dd", {"script_score": {
            "script": {"source": "System.exit(1)"}}}, k=1)
    with pytest.raises(DslError, match="params.missing"):
        service.advanced_search("data_lake_dd", {"script_score": {
            "script": {"source": "params.missing * 2"}}}, k=1)


def test_scroll_stateless_drain(client, service, spark):
    """r9: scroll-shaped deep pagination — helpers.scan's request
    shape drains multi-page with no overlap or gap; the _scroll_id is
    a stateless continuation token; named 400s for the unsupported
    combinations."""
    spark.createDataFrame(
        [(i, f"doc {i}", i % 3) for i in range(37)],
        "id long, txt string, grp long",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_sc"))
    # first page: query + scroll TTL (accepted-and-ignored), _doc sort
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_sc", "scroll": "5m", "size": 10,
        "sort": ["_doc"],
        "query": {"range": {"id": {"gte": 5}}},
    }), content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert body["hits"]["total"] == {"value": 32, "relation": "eq"}
    seen: list[int] = []
    pages = 0
    while body["hits"]["hits"]:
        seen += [h["_source"]["id"] for h in body["hits"]["hits"]]
        pages += 1
        assert pages < 10
        r = client.post("/search/scroll", data=json.dumps({
            "scroll": "5m", "scroll_id": body["_scroll_id"]}),
            content_type="application/json")
        assert r.status_code == 200
        body = r.get_json()
    assert pages == 4  # 10+10+10+2
    assert sorted(seen) == list(range(5, 37))     # no gap
    assert len(seen) == len(set(seen))            # no overlap
    # a user sort is honored and still drains completely (the
    # tie-break columns append to totalize it)
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_sc", "scroll": "1m", "size": 20,
        "sort": [{"grp": "desc"}], "query": {"match_all": {}},
    }), content_type="application/json")
    body = r.get_json()
    got: list[tuple] = []
    while body["hits"]["hits"]:
        got += [(h["_source"]["grp"], h["_source"]["id"])
                for h in body["hits"]["hits"]]
        body = client.post("/search/scroll", data=json.dumps(
            {"scroll_id": body["_scroll_id"]}),
            content_type="application/json").get_json()
    assert len(got) == 37
    assert [g for g, _ in got] == sorted(
        [g for g, _ in got], reverse=True)
    # clearing is a no-op success (nothing is held server-side)
    r = client.delete("/search/scroll")
    assert r.get_json() == {"succeeded": True, "num_freed": 0}
    # garbage token: named 400, not a 500
    r = client.post("/search/scroll", data=json.dumps(
        {"scroll_id": "not-a-token"}),
        content_type="application/json")
    assert r.status_code == 400 and "scroll_id" in r.get_json()["error"]
    r = client.post("/search/scroll", data=json.dumps({}),
                    content_type="application/json")
    assert r.status_code == 400
    # scroll needs a concrete table; from/search_after are the
    # cursor's job
    r = client.post("/search/advanced", data=json.dumps({
        "scroll": "1m", "query": {"match_all": {}}}),
        content_type="application/json")
    assert r.status_code == 400
    assert "concrete table" in r.get_json()["error"]
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_sc", "scroll": "1m", "from": 10}),
        content_type="application/json")
    assert r.status_code == 400
    assert "scroll is not supported with from" in r.get_json()["error"]


def test_scroll_date_sort_cursor(client, service, spark):
    """r10 ADVICE fix: a DateType sort/tie-break column produces a
    datetime.date cursor value — date.isoformat() takes no sep kwarg,
    so _scroll_id serialization must branch on the type instead of
    crashing with an unhandled TypeError on the first page."""
    import datetime as dt

    spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 7), f"d{i}") for i in range(13)],
        "id long, d date, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_scd"))
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_scd", "scroll": "1m", "size": 5,
        "sort": [{"d": "asc"}], "query": {"match_all": {}},
    }), content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    seen: list[int] = []
    while body["hits"]["hits"]:
        seen += [h["_source"]["id"] for h in body["hits"]["hits"]]
        r = client.post("/search/scroll", data=json.dumps(
            {"scroll_id": body["_scroll_id"]}),
            content_type="application/json")
        assert r.status_code == 200
        body = r.get_json()
    assert sorted(seen) == list(range(13))
    assert len(seen) == len(set(seen))


def test_collapse_inner_hits(service, spark):
    """r10: collapse.inner_hits — each collapsed hit carries its
    group's top docs under the inner sort; per-group totals exact;
    named 400s for the unsupported shapes."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(i, f"u{i % 3}", i * 10, f"d{i}") for i in range(12)]
        + [(99, None, 5, "dn")],
        "id long, user string, score long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_ih"))
    out = service.advanced_search(
        "data_lake_ih", {"match_all": {}}, k=2,
        sort=[{"score": "desc"}],
        collapse={"field": "user", "inner_hits": {
            "name": "recent", "size": 2,
            "sort": [{"id": "asc"}], "_source": ["id"]}})
    hits = out["hits"]["hits"]
    assert len(hits) == 2
    top = hits[0]  # best score 110 → user u2 (id 11)
    assert top["fields"]["user"] == ["u2"]
    ih = top["inner_hits"]["recent"]["hits"]
    # group u2 = ids 2,5,8,11 → total 4, inner sort id asc → 2,5
    assert ih["total"] == {"value": 4, "relation": "eq"}
    assert [h["_source"] for h in ih["hits"]] == [{"id": 2}, {"id": 5}]
    assert [h["sort"] for h in ih["hits"]] == [[2], [5]]
    # default inner sort = the request sort; default name = the field
    out = service.advanced_search(
        "data_lake_ih", {"match_all": {}}, k=1,
        sort=[{"score": "desc"}],
        collapse={"field": "user", "inner_hits": {"size": 1}})
    ih = out["hits"]["hits"][0]["inner_hits"]["user"]["hits"]
    assert ih["hits"][0]["_source"]["id"] == 11  # best score in u2
    # the null-key group works (one group, like the collapse itself)
    out = service.advanced_search(
        "data_lake_ih", {"term": {"score": 5}}, k=1,
        sort=[{"score": "asc"}],
        collapse={"field": "user", "inner_hits": {"size": 2}})
    h = out["hits"]["hits"][0]
    assert h["fields"]["user"] == [None]
    assert h["inner_hits"]["user"]["hits"]["total"]["value"] == 1
    assert h["inner_hits"]["user"]["hits"]["hits"][0]["_source"]["id"] \
        == 99
    # named 400s: list form, stray options, pattern target
    with pytest.raises(DslError, match="one object"):
        service.advanced_search(
            "data_lake_ih", {"match_all": {}}, k=1,
            sort=[{"score": "desc"}],
            collapse={"field": "user", "inner_hits": [{}, {}]})
    with pytest.raises(DslError, match="inner_hits options"):
        service.advanced_search(
            "data_lake_ih", {"match_all": {}}, k=1,
            sort=[{"score": "desc"}],
            collapse={"field": "user",
                      "inner_hits": {"collapse": {}}})
    spark.createDataFrame([(1, "a", 1, "t")],
                          "id long, user string, score long, txt string"
                          ).write.parquet(
        os.path.join(service.lake_dir, "data_lake_ih2"))
    with pytest.raises(DslError, match="single concrete table"):
        service.advanced_search(
            "data_lake_ih*", {"match_all": {}}, k=1,
            sort=[{"id": "desc"}],
            collapse={"field": "user", "inner_hits": {}})
    with pytest.raises(DslError, match="collapse options"):
        service.advanced_search(
            "data_lake_ih", {"match_all": {}}, k=1,
            sort=[{"score": "desc"}],
            collapse={"field": "user", "max_concurrent_group_searches": 4})


def test_validate_query_route(client, service, spark):
    """r10: ES _validate/query — compile-only pre-flight, no job."""
    spark.createDataFrame([(1, "x")], "id long, txt string") \
        .write.parquet(os.path.join(service.lake_dir, "data_lake_vq"))
    post = lambda b: client.post(  # noqa: E731
        "/search/validate", data=json.dumps(b),
        content_type="application/json")
    r = post({"table": "data_lake_vq",
              "query": {"term": {"txt": "x"}}})
    assert r.status_code == 200
    assert r.get_json()["valid"] is True
    assert r.get_json()["_shards"]["failed"] == 0
    # a malformed body is valid=false (a 200, like ES), with the
    # error text under explain
    r = post({"table": "data_lake_vq", "explain": True,
              "query": {"nope": {}}})
    body = r.get_json()
    assert r.status_code == 200 and body["valid"] is False
    assert "nope" in body["explanations"][0]["error"]
    # empty body defaults to match_all; missing table is a 404;
    # stray keys are named 400s
    assert post({}).get_json()["valid"] is True
    assert post({"table": "data_lake_nope",
                 "query": {}}).status_code == 404
    assert post({"table": "data_lake_vq",
                 "size": 5}).status_code == 400


def test_pit_search_after_drain(client, service, spark):
    """r10: ES 8.x PIT + search_after — the modern helpers.scan /
    Kibana Discover pagination. Full-drain parity with scroll: same
    rows, no overlap, no gap; the pit id is a stateless token; named
    errors for the unsupported combinations."""
    spark.createDataFrame(
        [(i, f"doc {i}", i % 5) for i in range(43)],
        "id long, txt string, grp long",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_pit"))
    # open: keep_alive accepted-and-ignored
    r = client.post("/search/pit", data=json.dumps(
        {"table": "data_lake_pit", "keep_alive": "1m"}),
        content_type="application/json")
    assert r.status_code == 200
    pit_id = r.get_json()["id"]
    assert isinstance(pit_id, str) and pit_id

    def drain(sort):
        got, after, pages = [], None, 0
        while True:
            body = {"pit": {"id": pit_id, "keep_alive": "1m"},
                    "size": 10, "query":
                    {"range": {"id": {"gte": 3}}}}
            if sort:
                body["sort"] = sort
            if after is not None:
                body["search_after"] = after
            r = client.post("/search/advanced", data=json.dumps(body),
                            content_type="application/json")
            assert r.status_code == 200
            out = r.get_json()
            assert out["pit_id"] == pit_id  # echoed on every page
            hits = out["hits"]["hits"]
            if not hits:
                return got
            got += [h["_source"]["id"] for h in hits]
            after = hits[-1]["sort"]
            pages += 1
            assert pages < 10

    # no sort: the tie-break total order alone drains completely
    seen = drain(None)
    assert sorted(seen) == list(range(3, 43))
    assert len(seen) == len(set(seen))
    # a user sort is honored and the appended tie-breaks totalize it
    seen = drain([{"grp": "desc"}])
    assert len(seen) == 40 and len(set(seen)) == 40
    # scroll drains the same query to the same row set
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_pit", "scroll": "1m", "size": 10,
        "query": {"range": {"id": {"gte": 3}}}}),
        content_type="application/json")
    body = r.get_json()
    via_scroll: list[int] = []
    while body["hits"]["hits"]:
        via_scroll += [h["_source"]["id"] for h in body["hits"]["hits"]]
        body = client.post("/search/scroll", data=json.dumps(
            {"scroll_id": body["_scroll_id"]}),
            content_type="application/json").get_json()
    assert sorted(via_scroll) == sorted(seen)
    # close: stateless → always succeeds
    r = client.delete("/search/pit")
    assert r.get_json() == {"succeeded": True, "num_freed": 0}
    # named errors: missing table 404, multi-match pattern 400,
    # malformed id 400, pit+table 400, pit+from 400
    assert client.post("/search/pit", data=json.dumps(
        {"table": "data_lake_nope"}),
        content_type="application/json").status_code == 404
    spark.createDataFrame([(1,)], "id long").write.parquet(
        os.path.join(service.lake_dir, "data_lake_pit2"))
    r = client.post("/search/pit", data=json.dumps(
        {"table": "data_lake_pit*"}),
        content_type="application/json")
    assert r.status_code == 400
    assert "one pit per table" in r.get_json()["error"]
    # a single-match pattern resolves at open time, like ES
    r = client.post("/search/pit", data=json.dumps(
        {"table": "data_lake_pit2*"}),
        content_type="application/json")
    assert r.status_code == 200
    r = client.post("/search/advanced", data=json.dumps(
        {"pit": {"id": "garbage"}, "query": {"match_all": {}}}),
        content_type="application/json")
    assert r.status_code == 400
    assert "malformed pit id" in r.get_json()["error"]
    r = client.post("/search/advanced", data=json.dumps(
        {"pit": {"id": pit_id}, "table": "data_lake_pit"}),
        content_type="application/json")
    assert r.status_code == 400
    assert "pit is not supported with table" in r.get_json()["error"]
    r = client.post("/search/advanced", data=json.dumps(
        {"pit": {"id": pit_id}, "from": 5}),
        content_type="application/json")
    assert r.status_code == 400
    assert "pit is not supported with from" in r.get_json()["error"]
    # the full retrieval surface forwards under pit (no silent drops):
    # highlight, fields arrays and post_filter all ride a pit page
    r = client.post("/search/advanced", data=json.dumps({
        "pit": {"id": pit_id}, "size": 3,
        "query": {"match": {"txt": "doc"}},
        "post_filter": {"range": {"id": {"gte": 40}}},
        "highlight": {"fields": {"txt": {}}},
        "fields": ["grp"],
    }), content_type="application/json")
    assert r.status_code == 200
    hits = r.get_json()["hits"]["hits"]
    assert hits and all(h["_source"]["id"] >= 40 for h in hits)
    assert all("<em>doc" in h["highlight"]["txt"][0] for h in hits)
    assert all(h["fields"]["grp"] == [h["_source"]["grp"]]
               for h in hits)


def test_pit_drain_over_date_column(client, service, spark):
    """r11 (ADVICE, high): PIT + search_after over a table WITH a
    date/timestamp column — pit_total_sort appends those columns to
    the sort, so page cursors carry their values. The wire must
    serialize them as ISO-8601 (Flask's default provider emits
    RFC-1123 HTTP-dates, which cannot cast back against the DATE
    column on page 2 → DateTimeException/500 or silent row loss)."""
    import datetime as dt

    spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 20),
          dt.datetime(2024, 1, 1, i % 24, 0, 0), f"d{i}")
         for i in range(37)],
        "id long, d date, ts timestamp, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_pitd"))
    pit_id = client.post("/search/pit", data=json.dumps(
        {"table": "data_lake_pitd"}),
        content_type="application/json").get_json()["id"]
    got, after, pages = [], None, 0
    while True:
        body = {"pit": {"id": pit_id}, "size": 10,
                "sort": [{"d": "asc"}]}
        if after is not None:
            after = json.loads(json.dumps(after))  # wire round-trip
            body["search_after"] = after
        r = client.post("/search/advanced", data=json.dumps(body),
                        content_type="application/json")
        assert r.status_code == 200, r.get_json()
        hits = r.get_json()["hits"]["hits"]
        if not hits:
            break
        # sort values reach the wire as ISO strings, not HTTP-dates
        for h in hits:
            assert all(
                not (isinstance(v, str) and "GMT" in v)
                for v in h["sort"]), h["sort"]
        got += [h["_source"]["id"] for h in hits]
        after = hits[-1]["sort"]
        pages += 1
        assert pages < 10
    assert sorted(got) == list(range(37))
    assert len(got) == len(set(got))  # no overlap, no gap
    # _source date values render ISO too (ES wire form)
    r = client.post("/search/advanced", data=json.dumps(
        {"table": "data_lake_pitd", "size": 1,
         "sort": [{"id": "asc"}]}),
        content_type="application/json")
    src = r.get_json()["hits"]["hits"][0]["_source"]
    assert src["d"] == "2024-01-01" and src["ts"].startswith("2024-01-01")


def test_scroll_rejects_pit(client, service, spark):
    """r11 (ADVICE): a body carrying BOTH cursor mechanisms is a named
    400 — previously the scroll branch silently ignored the pit."""
    spark.createDataFrame([(1, "x")], "id long, txt string") \
        .write.parquet(os.path.join(service.lake_dir, "data_lake_sp"))
    pit_id = client.post("/search/pit", data=json.dumps(
        {"table": "data_lake_sp"}),
        content_type="application/json").get_json()["id"]
    r = client.post("/search/advanced", data=json.dumps(
        {"table": "data_lake_sp", "scroll": "1m", "size": 5,
         "pit": {"id": pit_id}}),
        content_type="application/json")
    assert r.status_code == 400
    assert "scroll is not supported with pit" in r.get_json()["error"]


def test_collapse_inner_hits_with_map_column(service, spark):
    """r11 (ADVICE, medium): collapse+inner_hits on a table with a
    MapType column — the window tiebreak previously ordered by ALL
    columns and raised INVALID_ORDERING_TYPE (a 500 for a valid
    request). The tiebreak now uses orderable columns only."""
    df = spark.createDataFrame(
        [(1, "u1", {"k": "a"}), (2, "u1", {"k": "b"}),
         (3, "u2", {"k": "c"})],
        "id long, user string, meta map<string,string>")
    df.write.parquet(os.path.join(service.lake_dir, "data_lake_cmap"))
    out = service.advanced_search(
        "data_lake_cmap", {"match_all": {}}, k=5,
        sort=[{"id": "asc"}],
        collapse={"field": "user", "inner_hits": {"size": 2}})
    hits = out["hits"]["hits"]
    assert [h["_source"]["user"] for h in hits] == ["u1", "u2"]
    ih = hits[0]["inner_hits"]["user"]["hits"]
    assert ih["total"]["value"] == 2
    assert sorted(r["_source"]["id"] for r in ih["hits"]) == [1, 2]


def test_more_like_this_doc_resolution(service, spark):
    """r9: like-by-document entries resolve at the API layer — one
    point lookup per referenced doc, absent docs ignored, the
    artificial-doc form needs no lookup."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [("a", "spark merge spark merge spark"),
         ("b", "spark merge fast"), ("c", "pandas loop"),
         ("d", "merge spark tables")],
        "id string, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_mlt"))
    out = service.advanced_search("data_lake_mlt", {"more_like_this": {
        "fields": ["txt"], "like": [{"_id": "a"}],
        "min_term_freq": 2, "minimum_should_match": 2,
    }}, k=10)
    ids = sorted(h["_source"]["id"] for h in out["hits"]["hits"])
    assert ids == ["a", "b", "d"]  # seed terms {spark, merge}
    # artificial doc + an absent _id (ignored like ES)
    out = service.advanced_search("data_lake_mlt", {"more_like_this": {
        "fields": ["txt"],
        "like": [{"doc": {"txt": "pandas pandas loop loop"}},
                 {"_id": "ghost"}],
        "min_term_freq": 2, "minimum_should_match": 2,
    }}, k=10)
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == ["c"]
    # _id without a concrete table (a pattern matching MORE than one)
    # is a named 400 — the lookup table would be ambiguous
    spark.createDataFrame(
        [("z", "other corpus")], "id string, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_mlt2"))
    with pytest.raises(DslError, match="_index"):
        service.advanced_search("data_lake_*", {"more_like_this": {
            "fields": ["txt"], "like": [{"_id": "a"}]}}, k=1)
    # …but an explicit _index resolves even under a pattern
    out = service.advanced_search("data_lake_*", {"more_like_this": {
        "fields": ["txt"],
        "like": [{"_index": "data_lake_mlt", "_id": "a"}],
        "min_term_freq": 2, "minimum_should_match": 2,
    }}, k=20)
    assert sorted(h["_source"]["id"] for h in out["hits"]["hits"]
                  if h["_index"] == "data_lake_mlt") == ["a", "b", "d"]


def test_suggest_phrase_suggester(service, spark):
    """r9: the phrase suggester — whole-phrase corrections with the
    Laplace-bigram re-rank; one entry spanning the input text; named
    400s for unknown options; completion prefix/fuzzy/regex modes
    (regex landed r11 — only Lucene's automaton operators remain
    named 400s)."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, "spark merges tables fast"), (2, "spark merge loop"),
         (3, "spark table scan"), (4, "pandas table scan")],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_ph"))
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "spak tabel",
                         "phrase": {"field": "txt", "size": 3}}})
    ent = out["suggest"]["fix"]
    assert len(ent) == 1
    assert (ent[0]["text"], ent[0]["offset"], ent[0]["length"]) == \
        ("spak tabel", 0, 10)
    opts = ent[0]["options"]
    assert opts and opts[0]["text"] == "spark table"
    assert all(o1["score"] >= o2["score"]
               for o1, o2 in zip(opts, opts[1:]))
    # the bigram model prefers an attested continuation: "merge loop"
    # beats "merges loop" even though both are one edit from "merge"
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"fix": {"text": "merg loop",
                         "phrase": {"field": "txt"}}})
    assert out["suggest"]["fix"][0]["options"][0]["text"] == \
        "merge loop"
    with pytest.raises(DslError, match="phrase suggester options"):
        service.advanced_search(
            "data_lake_ph", {"match_all": {}}, k=1,
            suggest={"f": {"text": "x", "phrase": {
                "field": "txt", "collate": {}}}})
    # completion with the canonical "prefix" key, doc-freq ranking,
    # and the named 400s for FST-bound options
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"prefix": "spark ",
                       "completion": {"field": "txt", "size": 2}}})
    opts = out["suggest"]["c"][0]["options"]
    assert len(opts) == 2
    assert all(o["text"].startswith("spark ") for o in opts)
    # r11: regex completion — whole-value anchored Lucene-subset
    # match over the value dictionary, doc-freq ranked
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"regex": "spark .*",
                       "completion": {"field": "txt"}}})
    opts = out["suggest"]["c"][0]["options"]
    assert len(opts) == 3
    assert all(o["text"].startswith("spark ") for o in opts)
    # anchored BOTH ends: a mid-value fragment matches nothing
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"regex": "table",
                       "completion": {"field": "txt"}}})
    assert out["suggest"]["c"][0]["options"] == []
    # Lucene's @ (any string) translates; char-class + alternation ride
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"regex": "(spark|pandas) table@",
                       "completion": {"field": "txt"}}})
    got = {o["text"] for o in out["suggest"]["c"][0]["options"]}
    assert got == {"spark table scan", "pandas table scan"}
    # regex OPTIONS object accepted-and-ignored (no automaton here)
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"regex": "spark .*", "completion": {
            "field": "txt",
            "regex": {"flags": "ALL",
                      "max_determinized_states": 10000}}}})
    assert out["suggest"]["c"][0]["options"]
    # named 400s: automaton operators, prefix+regex, regex+fuzzy
    with pytest.raises(DslError, match="Lucene regexp operator"):
        service.advanced_search(
            "data_lake_ph", {"match_all": {}}, k=1,
            suggest={"c": {"regex": "spark~1",
                           "completion": {"field": "txt"}}})
    with pytest.raises(DslError, match="prefix OR regex"):
        service.advanced_search(
            "data_lake_ph", {"match_all": {}}, k=1,
            suggest={"c": {"regex": "x", "prefix": "y",
                           "completion": {"field": "txt"}}})
    with pytest.raises(DslError, match="does not take fuzzy"):
        service.advanced_search(
            "data_lake_ph", {"match_all": {}}, k=1,
            suggest={"c": {"regex": "x", "completion": {
                "field": "txt", "fuzzy": True}}})
    # r10: fuzzy completion — the typo "spakr " still completes;
    # prefix_length guards the exact lead, bad options stay named 400s
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"prefix": "spakr ", "completion": {
            "field": "txt", "size": 3,
            "fuzzy": {"fuzziness": 2, "prefix_length": 2}}}})
    opts = out["suggest"]["c"][0]["options"]
    assert opts and all(o["text"].startswith("spark ") for o in opts)
    # AUTO fuzziness: a 2-char prefix gets NO fuzz (exact only)
    out = service.advanced_search(
        "data_lake_ph", {"match_all": {}}, k=1,
        suggest={"c": {"prefix": "sq", "completion": {
            "field": "txt", "fuzzy": True}}})
    assert out["suggest"]["c"][0]["options"] == []
    with pytest.raises(DslError, match="fuzzy options"):
        service.advanced_search(
            "data_lake_ph", {"match_all": {}}, k=1,
            suggest={"c": {"prefix": "sp", "completion": {
                "field": "txt", "fuzzy": {"boost": 2}}}})
    with pytest.raises(DslError, match="malformed fuzziness"):
        service.advanced_search(
            "data_lake_ph", {"match_all": {}}, k=1,
            suggest={"c": {"prefix": "sp", "completion": {
                "field": "txt", "fuzzy": {"fuzziness": 9}}}})


def test_runtime_mappings_and_script_fields(client, service, spark):
    """r9: runtime_mappings fields work in query, sort, aggs and
    fields retrieval; script_fields surface under hit.fields; neither
    leaks into _source; named 400s for bad types/scripts."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, 100, "de"), (2, 300, "en"), (3, 200, "de"),
         (4, None, "en")],
        "id long, n long, lang string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rt"))
    rt = {"n2": {"type": "double", "script": {
        "source": "emit(doc['n'].value / 10.0 + params.b)",
        "params": {"b": 5}}}}
    out = service.advanced_search(
        "data_lake_rt", {"range": {"n2": {"gte": 15}}}, k=10,
        sort=[{"n2": "desc"}], runtime_mappings=rt,
        fields_opt=[{"field": "n2"}],
        aggs={"mx": {"max": {"field": "n2"}}})
    hits = out["hits"]["hits"]
    assert [h["fields"]["n2"] for h in hits] == \
        [[35.0], [25.0], [15.0]]
    assert all("n2" not in h["_source"] for h in hits)
    assert out["aggregations"]["mx"]["value"] == 35.0
    assert out["hits"]["total"] == {"value": 3, "relation": "eq"}
    # script_fields: computed per hit, under fields, never in _source
    out = service.advanced_search(
        "data_lake_rt", {"match_all": {}}, k=2, sort=[{"id": "asc"}],
        script_fields={"dbl": {"script":
                               {"source": "doc['n'].value * 2"}}})
    assert [(h["_source"]["id"], h["fields"]["dbl"])
            for h in out["hits"]["hits"]] == [(1, [200.0]),
                                             (2, [600.0])]
    # chained runtime fields (later may reference earlier, dict order)
    out = service.advanced_search(
        "data_lake_rt", {"term": {"lang": "de"}}, k=10,
        sort=[{"id": "asc"}],
        runtime_mappings={
            "a": {"script": {"source": "doc['n'].value + 1"}},
            "b": {"script": {"source": "doc['a'].value * 2"}},
        },
        fields_opt=[{"field": "b"}])
    assert [h["fields"]["b"] for h in out["hits"]["hits"]] == \
        [[202.0], [402.0]]
    with pytest.raises(DslError, match="runtime field type"):
        service.advanced_search(
            "data_lake_rt", {"match_all": {}}, k=1,
            runtime_mappings={"x": {"type": "keyword", "script": {
                "source": "emit(1)"}}})
    with pytest.raises(DslError, match="unsupported script syntax"):
        service.advanced_search(
            "data_lake_rt", {"match_all": {}}, k=1,
            runtime_mappings={"x": {"script": {
                "source": "emit(System.exit(1))"}}})
    # wire: the body keys ride /search/advanced
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_rt",
        "query": {"range": {"n2": {"gte": 25}}},
        "sort": [{"n2": "desc"}],
        "runtime_mappings": rt, "fields": [{"field": "n2"}],
    }), content_type="application/json")
    assert r.status_code == 200
    assert [h["fields"]["n2"]
            for h in r.get_json()["hits"]["hits"]] == [[35.0], [25.0]]


def test_count_and_msearch_routes(client, service, spark):
    """r9: the _count and _msearch client idioms — exact counts with
    pushed predicates; NDJSON multi-search with per-item errors."""
    spark.createDataFrame(
        [(1, "spark", 10), (2, "spark", 20), (3, "pandas", 30)],
        "id long, kind string, v long",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_ms1"))
    r = client.post("/search/count", data=json.dumps({
        "table": "data_lake_ms1",
        "query": {"term": {"kind": "spark"}}}),
        content_type="application/json")
    assert r.status_code == 200
    assert r.get_json()["count"] == 2
    assert r.get_json()["_shards"]["failed"] == 0
    # runtime field in the counted predicate
    r = client.post("/search/count", data=json.dumps({
        "table": "data_lake_ms1",
        "query": {"range": {"v2": {"gte": 40}}},
        "runtime_mappings": {"v2": {"script": {
            "source": "doc['v'].value * 2"}}}}),
        content_type="application/json")
    assert r.get_json()["count"] == 2
    r = client.post("/search/count", data=json.dumps({
        "table": "data_lake_ms1", "size": 5}),
        content_type="application/json")
    assert r.status_code == 400  # named unknown-key rejection
    # msearch: two goods and one bad body — the bad one fails its
    # slot only
    nd = "\n".join([
        json.dumps({"index": "data_lake_ms1"}),
        json.dumps({"query": {"term": {"kind": "spark"}}, "size": 1}),
        json.dumps({"index": "data_lake_ms1"}),
        json.dumps({"query": {"nope": {}}}),
        json.dumps({"index": "data_lake_ms1"}),
        json.dumps({"query": {"match_all": {}}, "size": 0,
                    "track_total_hits": True}),
    ]) + "\n"
    r = client.post("/search/msearch", data=nd,
                    content_type="application/x-ndjson")
    assert r.status_code == 200
    rs = r.get_json()["responses"]
    assert len(rs) == 3
    assert rs[0]["status"] == 200 and len(rs[0]["hits"]["hits"]) == 1
    assert rs[1]["status"] == 400 and "nope" in rs[1]["error"]
    assert rs[2]["hits"]["total"] == {"value": 3, "relation": "eq"}
    # odd line count is the caller's error
    r = client.post("/search/msearch", data='{"index": "x"}\n',
                    content_type="application/x-ndjson")
    assert r.status_code == 400
    # r11: a malformed `from` is ITS slot's 400, not an unhandled
    # ValueError turning the whole batch into a 500
    nd = "\n".join([
        json.dumps({"index": "data_lake_ms1"}),
        json.dumps({"query": {"match_all": {}}, "from": "x"}),
        json.dumps({"index": "data_lake_ms1"}),
        json.dumps({"query": {"match_all": {}}, "size": 1}),
    ]) + "\n"
    r = client.post("/search/msearch", data=nd,
                    content_type="application/x-ndjson")
    assert r.status_code == 200
    rs = r.get_json()["responses"]
    assert rs[0]["status"] == 400 and "from" in rs[0]["error"]
    assert rs[1]["status"] == 200


def test_terms_lookup_resolution(service, spark):
    """r9: ES terms lookup — the referenced doc's path value becomes
    the terms list; array and scalar paths, missing docs, and the
    named 400s."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [("u1", ["a", "b"], "b"), ("u2", [], "c")],
        "id string, follows array<string>, fav string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_tl_u"))
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
        "id long, owner string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_tl_d"))
    # array path: docs owned by anyone u1 follows
    out = service.advanced_search("data_lake_tl_d", {"terms": {
        "owner": {"index": "data_lake_tl_u", "id": "u1",
                  "path": "follows"}}}, k=10)
    assert sorted(h["_source"]["id"]
                  for h in out["hits"]["hits"]) == [1, 2]
    # scalar path wraps to a one-element list; inside a bool too
    out = service.advanced_search("data_lake_tl_d", {"bool": {
        "filter": [{"terms": {"owner": {
            "index": "data_lake_tl_u", "id": "u1",
            "path": "fav"}}}]}}, k=10)
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == [2]
    # empty list / missing doc match nothing (like ES)
    for lid in ("u2", "ghost"):
        out = service.advanced_search("data_lake_tl_d", {"terms": {
            "owner": {"index": "data_lake_tl_u", "id": lid,
                      "path": "follows"}}}, k=10)
        assert out["hits"]["hits"] == []
    with pytest.raises(DslError, match="not a column"):
        service.advanced_search("data_lake_tl_d", {"terms": {
            "owner": {"index": "data_lake_tl_u", "id": "u1",
                      "path": "ghost"}}}, k=1)
    with pytest.raises(DslError, match="terms lookup keys"):
        service.advanced_search("data_lake_tl_d", {"terms": {
            "owner": {"index": "x", "id": "1", "path": "p",
                      "cache": True}}}, k=1)


def test_rank_feature_ranked_page(service, spark):
    """r9: top-level rank_feature ranks by the feature function;
    membership is ES's positive-feature rule."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, 10.0), (2, 40.0), (3, 0.0), (4, None)],
        "id long, pr double",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rf"))
    out = service.advanced_search("data_lake_rf", {"rank_feature": {
        "field": "pr", "saturation": {"pivot": 10.0}}}, k=10)
    hits = out["hits"]["hits"]
    # saturation v/(v+10): doc2 0.8, doc1 0.5; zero/null features
    # are non-members (ES semantics)
    assert [(h["_source"]["id"], h["_score"]) for h in hits] == \
        [(2, 0.8), (1, 0.5)]
    assert out["hits"]["total"] == {"value": 2, "relation": "eq"}
    # linear + boost; log scaling
    out = service.advanced_search("data_lake_rf", {"rank_feature": {
        "field": "pr", "linear": {}, "boost": 2.0}}, k=1)
    assert out["hits"]["hits"][0]["_score"] == 80.0
    with pytest.raises(DslError, match="explicit pivot"):
        service.advanced_search("data_lake_rf", {"rank_feature": {
            "field": "pr", "saturation": {}}}, k=1)
    with pytest.raises(DslError, match="explicit score function"):
        service.advanced_search("data_lake_rf", {"rank_feature": {
            "field": "pr"}}, k=1)
    # inside a bool tree: membership only (score-free filter context)
    out = service.advanced_search("data_lake_rf", {"bool": {"filter": [
        {"rank_feature": {"field": "pr", "linear": {}}}]}}, k=10,
        sort=[{"id": "asc"}])
    assert [h["_source"]["id"] for h in out["hits"]["hits"]] == [1, 2]


def test_distance_feature_ranked_page(service, spark):
    """r9: distance_feature recency/proximity ranking over date and
    numeric fields; origin 'now' is a named 400."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.sql("""
        SELECT * FROM VALUES
          (1, TIMESTAMP '2024-01-10 00:00:00', 5.0),
          (2, TIMESTAMP '2024-01-01 00:00:00', 50.0),
          (3, NULL, 20.0)
        AS t(id, ts, num)
    """).write.parquet(os.path.join(service.lake_dir, "data_lake_df"))
    out = service.advanced_search("data_lake_df", {"distance_feature": {
        "field": "ts", "origin": "2024-01-10 00:00:00",
        "pivot": "9d"}}, k=10)
    hits = out["hits"]["hits"]
    # doc1 at origin → 1.0; doc2 9 days away → 0.5; null ts is not a
    # member (has-the-field rule)
    assert [(h["_source"]["id"], h["_score"]) for h in hits] == \
        [(1, 1.0), (2, 0.5)]
    # numeric origin/pivot
    out = service.advanced_search("data_lake_df", {"distance_feature": {
        "field": "num", "origin": 5.0, "pivot": 15.0}}, k=10)
    assert [(h["_source"]["id"], h["_score"])
            for h in out["hits"]["hits"]] == \
        [(1, 1.0), (3, 0.5), (2, 0.25)]
    with pytest.raises(DslError, match="now"):
        service.advanced_search("data_lake_df", {"distance_feature": {
            "field": "ts", "origin": "now-1d", "pivot": "7d"}}, k=1)
    with pytest.raises(DslError, match="malformed time pivot"):
        service.advanced_search("data_lake_df", {"distance_feature": {
            "field": "ts", "origin": "2024-01-01", "pivot": "7x"}}, k=1)
    with pytest.raises(DslError, match="pivot must be positive"):
        service.advanced_search("data_lake_df", {"distance_feature": {
            "field": "num", "origin": 1.0, "pivot": 0}}, k=1)


def test_mget_batch_point_lookups(service, spark, client):
    """r9: _mget — both request shapes, request-order docs, per-entry
    misses, per-entry _source filtering, one pushed scan per table."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, v double",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_mg"))
    out = service.mget(table="data_lake_mg", ids=[2, 99, 1])
    docs = out["docs"]
    assert [(d["_id"], d["found"]) for d in docs] == \
        [("2", True), ("99", False), ("1", True)]
    assert docs[0]["_source"] == {"id": 2, "name": "b", "v": 20.0}
    # docs form: per-entry _index and _source filter; a missing table
    # is a per-entry miss, not an error
    out = service.mget(docs=[
        {"_index": "data_lake_mg", "_id": 3, "_source": ["name"]},
        {"_index": "data_lake_ghost", "_id": 1},
    ])
    assert out["docs"][0]["_source"] == {"name": "c"}
    assert out["docs"][1] == {"_index": "data_lake_ghost",
                              "_id": "1", "found": False}
    with pytest.raises(DslError, match="requires a table"):
        service.mget(ids=[1])
    with pytest.raises(DslError, match="not both"):
        service.mget(table="data_lake_mg", ids=[1], docs=[])
    # wire route
    r = client.post("/search/mget", json={
        "index": "data_lake_mg", "ids": [1]})
    assert r.status_code == 200
    assert r.get_json()["docs"][0]["found"] is True
    r = client.post("/search/mget", json={"ids": [1], "refresh": True})
    assert r.status_code == 400
    assert "unsupported mget keys" in r.get_json()["error"]


# ---------------------------------------------------------------------------
# r9: _field_caps / _terms_enum / _analyze / _explain wire routes
# ---------------------------------------------------------------------------


def _write_lake_table(service, name, rows, schema):
    df = service.spark.createDataFrame(rows, schema)
    df.write.mode("overwrite").parquet(
        os.path.join(service.lake_dir, name))


def test_field_caps_types_and_conflicts(client, service):
    _write_lake_table(service, "data_lake_a",
                      [(1, "x", 1.5)], "id long, name string, v double")
    _write_lake_table(service, "data_lake_b",
                      [("k", "y")], "id string, name string")
    r = client.post("/search/field_caps", data=json.dumps({}),
                    content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert body["indices"] == ["data_lake_a", "data_lake_b"]
    # agreeing type: no indices key
    assert body["fields"]["name"] == {"keyword": {
        "type": "keyword", "metadata_field": False,
        "searchable": True, "aggregatable": True}}
    # conflicting id types: each entry names its tables
    assert body["fields"]["id"]["long"]["indices"] == ["data_lake_a"]
    assert body["fields"]["id"]["keyword"]["indices"] == ["data_lake_b"]
    # wildcard field filtering
    r = client.post("/search/field_caps",
                    data=json.dumps({"fields": "v,na*"}),
                    content_type="application/json")
    assert sorted(r.get_json()["fields"]) == ["name", "v"]
    # unknown body key → named 400
    r = client.post("/search/field_caps",
                    data=json.dumps({"include_unmapped": True}),
                    content_type="application/json")
    assert r.status_code == 400
    # concrete missing table → 404 with the table named
    r = client.post("/search/field_caps",
                    data=json.dumps({"table": "data_lake_nope"}),
                    content_type="application/json")
    assert r.status_code == 404
    assert "data_lake_nope" in r.get_json()["error"]


def test_field_caps_embedding_is_dense_vector(client, service):
    _write_lake_table(
        service, "data_lake_emb",
        [(1, [0.1, 0.2])], "vec_id long, embedding array<float>")
    r = client.post("/search/field_caps",
                    data=json.dumps({"table": "data_lake_emb"}),
                    content_type="application/json")
    f = r.get_json()["fields"]["embedding"]
    assert list(f) == ["dense_vector"]


def test_terms_enum(client, service):
    _write_lake_table(
        service, "data_lake_docs",
        [(1, "alpha"), (2, "alpine"), (3, "Alps"), (4, "beta"),
         (5, "alpha"), (6, None)],
        "id long, tag string")
    post = lambda b: client.post(  # noqa: E731
        "/search/terms_enum", data=json.dumps(b),
        content_type="application/json")
    r = post({"table": "data_lake_docs", "field": "tag",
              "string": "alp"})
    assert r.status_code == 200
    body = r.get_json()
    assert body["terms"] == ["alpha", "alpine"]  # case-sensitive
    assert body["complete"] is True
    r = post({"table": "data_lake_docs", "field": "tag",
              "string": "alp", "case_insensitive": True})
    assert r.get_json()["terms"] == ["Alps", "alpha", "alpine"]
    # size cap + search_after pagination
    r = post({"table": "data_lake_docs", "field": "tag", "size": 2})
    assert r.get_json()["terms"] == ["Alps", "alpha"]
    r = post({"table": "data_lake_docs", "field": "tag", "size": 2,
              "search_after": "alpha"})
    assert r.get_json()["terms"] == ["alpine", "beta"]
    # pattern: tables lacking the field contribute nothing
    _write_lake_table(service, "data_lake_other",
                      [(1,)], "other long")
    r = post({"field": "tag", "string": "b"})
    assert r.get_json()["terms"] == ["beta"]
    # index_filter is a named 400, not silently ignored
    r = post({"table": "data_lake_docs", "field": "tag",
              "index_filter": {"term": {"id": 1}}})
    assert r.status_code == 400
    assert "index_filter" in r.get_json()["error"]


def test_analyze(client):
    r = client.post("/search/analyze",
                    data=json.dumps({"text": "Quick-Fox 42!"}),
                    content_type="application/json")
    assert r.status_code == 200
    toks = r.get_json()["tokens"]
    assert [(t["token"], t["start_offset"], t["end_offset"],
             t["type"], t["position"]) for t in toks] == [
        ("quick", 0, 5, "<ALPHANUM>", 0),
        ("fox", 6, 9, "<ALPHANUM>", 1),
        ("42", 10, 12, "<NUM>", 2),
    ]
    # list values: ES's position_increment_gap (100) between entries
    r = client.post("/search/analyze",
                    data=json.dumps({"text": ["a b", "c"]}),
                    content_type="application/json")
    toks = r.get_json()["tokens"]
    assert [t["position"] for t in toks] == [0, 1, 102]
    # only the engine's own chain exists — anything else is named
    r = client.post("/search/analyze",
                    data=json.dumps({"text": "x",
                                     "analyzer": "whitespace"}),
                    content_type="application/json")
    assert r.status_code == 400
    r = client.post("/search/analyze",
                    data=json.dumps({"text": "x",
                                     "tokenizer": "keyword"}),
                    content_type="application/json")
    assert r.status_code == 400


def test_explain(client, service):
    _write_lake_table(
        service, "data_lake_docs",
        [(1, "alpha", 10), (2, "beta", 99)],
        "id long, tag string, score long")
    post = lambda b: client.post(  # noqa: E731
        "/search/explain", data=json.dumps(b),
        content_type="application/json")
    q = {"bool": {"must": [{"term": {"tag": "alpha"}}],
                  "filter": [{"range": {"score": {"lt": 50}}}]}}
    r = post({"table": "data_lake_docs", "id": 1, "query": q})
    assert r.status_code == 200
    body = r.get_json()
    assert body["matched"] is True
    assert body["explanation"]["value"] == 1.0
    assert [d["value"] for d in body["explanation"]["details"]] \
        == [1.0, 1.0]
    # doc 2 fails BOTH clauses — the breakdown says which
    r = post({"table": "data_lake_docs", "id": 2, "query": q})
    body = r.get_json()
    assert body["matched"] is False
    assert [d["value"] for d in body["explanation"]["details"]] \
        == [0.0, 0.0]
    assert "must" in body["explanation"]["details"][0]["description"]
    # must_not inverts per-clause like the overall predicate
    r = post({"table": "data_lake_docs", "id": 2,
              "query": {"bool": {"must_not": [
                  {"term": {"tag": "alpha"}}]}}})
    body = r.get_json()
    assert body["matched"] is True
    assert body["explanation"]["details"][0]["value"] == 1.0
    # missing doc → 404; missing table → 404
    assert post({"table": "data_lake_docs", "id": 7,
                 "query": q}).status_code == 404
    assert post({"table": "data_lake_nope", "id": 1,
                 "query": q}).status_code == 404
    # malformed query stays a 400
    assert post({"table": "data_lake_docs", "id": 1,
                 "query": {"nope": {}}}).status_code == 400


def test_search_template_routes(client, service, spark):
    """r11 (verdict #5): ES _search/template — mustache-subset
    rendering ({{var}} scalar substitution + {{#toJson}}), stored
    templates via the _scripts namespace, rendered bodies flowing
    through the ordinary advanced pipeline, and named 400s for the
    unimplemented mustache grammar."""
    spark.createDataFrame(
        [(i, f"doc number {i}", i % 3) for i in range(12)],
        "id long, txt string, grp long",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_tpl"))

    def post(path, body):
        return client.post(path, data=json.dumps(body),
                           content_type="application/json")

    # inline source (string form), scalar + toJson params
    tpl = ('{"table": "data_lake_tpl", "size": {{size}}, '
           '"query": {"bool": {"must": ['
           '{"match": {"txt": "{{q}}"}}, '
           '{"terms": {"grp": {{#toJson}}grps{{/toJson}}}}]}}, '
           '"sort": [{"id": "asc"}]}')
    r = post("/search/template", {
        "source": tpl, "params": {"size": 3, "q": "doc",
                                  "grps": [0, 1]}})
    assert r.status_code == 200, r.get_json()
    hits = r.get_json()["hits"]["hits"]
    assert len(hits) == 3
    assert all(h["_source"]["grp"] in (0, 1) for h in hits)
    # object source renders the same way
    r = post("/search/template", {
        "source": {"table": "data_lake_tpl",
                   "query": {"term": {"id": "{{the_id}}"}}},
        "params": {"the_id": 7}})
    assert [h["_source"]["id"] for h in
            r.get_json()["hits"]["hits"]] == [7]
    # _render/template: the rendered body, not executed
    r = post("/render/template", {
        "source": '{"query": {"match": {"txt": "{{q}}"}}}',
        "params": {"q": 'quo"te'}})
    assert r.status_code == 200
    assert r.get_json()["template_output"] == {
        "query": {"match": {"txt": 'quo"te'}}}
    # stored template round-trip through /scripts
    r = client.put("/scripts/my_tpl", data=json.dumps({
        "script": {"lang": "mustache", "source": tpl}}),
        content_type="application/json")
    assert r.status_code == 200 and r.get_json() == {"acknowledged": True}
    r = client.get("/scripts/my_tpl")
    assert r.status_code == 200 and r.get_json()["found"] is True
    r = post("/search/template", {
        "id": "my_tpl", "params": {"size": 2, "q": "doc",
                                   "grps": [2]}})
    assert r.status_code == 200
    assert all(h["_source"]["grp"] == 2
               for h in r.get_json()["hits"]["hits"])
    assert client.delete("/scripts/my_tpl").get_json() == {
        "acknowledged": True}
    assert client.get("/scripts/my_tpl").status_code == 404
    assert post("/search/template",
                {"id": "my_tpl", "params": {}}).status_code == 404
    # missing params render mustache-empty (scalar) / null (toJson)
    r = post("/render/template", {
        "source": '{"query": {"match": {"txt": "x{{gone}}y"}}}'})
    assert r.get_json()["template_output"]["query"]["match"]["txt"] == "xy"
    # r12: {{#section}} / {{^inverted}} — the "optional clause" idiom:
    # present param keeps the filter clause, absent param renders the
    # inverted default; stored-template round-trip over an ARRAY var
    sec_tpl = (
        '{"table": "data_lake_tpl", "sort": [{"id": "asc"}],'
        ' "query": {"bool": {"must": ['
        '{"match": {"txt": "doc"}}'
        '{{#grp}}, {"term": {"grp": {{.}}}}{{/grp}}'
        '{{^grp}}, {"range": {"id": {"lt": 2}}}{{/grp}}'
        ']}}}')
    r = client.put("/scripts/sec_tpl", data=json.dumps({
        "script": {"lang": "mustache", "source": sec_tpl}}),
        content_type="application/json")
    assert r.status_code == 200
    r = post("/search/template", {"id": "sec_tpl",
                                  "params": {"grp": [1]}})
    assert r.status_code == 200, r.get_json()
    assert all(h["_source"]["grp"] == 1
               for h in r.get_json()["hits"]["hits"])
    r = post("/search/template", {"id": "sec_tpl", "params": {}})
    assert [h["_source"]["id"]
            for h in r.get_json()["hits"]["hits"]] == [0, 1]
    client.delete("/scripts/sec_tpl")
    # list section iterates with the element as context ({{.}} and
    # dict-element lookup), nested sections included
    r = post("/render/template", {
        "source": '{"clauses": [true{{#cs}}, {"term": {"{{f}}": '
                  '{{#vals}}{{.}}{{/vals}}}}{{/cs}}]}',
        "params": {"cs": [{"f": "a", "vals": [1]},
                          {"f": "b", "vals": [2]}]}})
    assert r.status_code == 200, r.get_json()
    assert r.get_json()["template_output"] == {
        "clauses": [True, {"term": {"a": 1}}, {"term": {"b": 2}}]}
    # falsy section values (false / empty list / null) render nothing;
    # inverted renders exactly then
    r = post("/render/template", {
        "source": '{"a": "x{{#p}}S{{/p}}{{^p}}I{{/p}}"}',
        "params": {"p": []}})
    assert r.get_json()["template_output"] == {"a": "xI"}
    r = post("/render/template", {
        "source": '{"a": "x{{#p}}S{{/p}}{{^p}}I{{/p}}"}',
        "params": {"p": True}})
    assert r.get_json()["template_output"] == {"a": "xS"}
    # r13 late: triple-stache / {{&var}} insert RAW (no JSON
    # escaping) — {{var}} escapes the same payload
    r = post("/render/template", {
        "source": '{"a": "{{{frag}}}", "b": "{{&frag}}", '
                  '"c": "{{frag}}", "d": {{{n}}}}',
        "params": {"frag": 'say \\"hi\\"', "n": 7}})
    assert r.status_code == 200, r.get_json()
    assert r.get_json()["template_output"] == {
        "a": 'say "hi"', "b": 'say "hi"', "c": 'say \\"hi\\"',
        "d": 7}
    # unbalanced sections are named 400s
    for bad_tpl, frag in [
        ('{"a": "{{#p}}x"}', "missing"),
        ('{"a": "x{{/p}}"}', "unexpected close"),
        ('{"a": "{{#p}}x{{/q}}"}', "unexpected close"),
    ]:
        r = post("/render/template", {"source": bad_tpl})
        assert r.status_code == 400 and frag in r.get_json()["error"]
    # named 400s: unsupported grammar, both source+id, bad params,
    # array through {{var}}, invalid rendered JSON, non-mustache lang
    bad = [
        ({"source": '{"a": "{{#join}}x{{/join}}"}'}, "section"),
        # r13: partials resolve from the stored namespace now — an
        # UNSTORED name is the 400, not the syntax
        ({"source": '{"a": "{{> nowhere}}"}'}, "unknown template partial"),
        # r13 late: triple-stache renders raw now; the 400 is only
        # for the unterminated form
        ({"source": '{"a": "{{{raw}} x"}'}, "triple-stache"),
        ({"source": '{"a": "{{{raw}}}"}', "params": {"raw": [1]}},
         "toJson"),
        ({"source": '{"a": "{{user.name}}"}'}, "dotted-path"),
        ({"source": "{}", "id": "x"}, "exactly one"),
        ({"params": {}}, "exactly one"),
        ({"source": "{}", "params": []}, "params must be an object"),
        ({"source": '{"a": "{{v}}"}', "params": {"v": [1]}}, "toJson"),
        ({"source": '{"a": {{v}}}', "params": {}}, "valid JSON"),
        ({"source": '[1, 2]'}, "JSON object"),
        ({"source": '{"a": "{{v}"}'}, "unterminated"),
    ]
    for body, frag in bad:
        r = post("/search/template", body)
        assert r.status_code == 400, (body, r.get_json())
        assert frag in r.get_json()["error"], (body, r.get_json())
    r = client.put("/scripts/x", data=json.dumps({
        "script": {"lang": "painless", "source": "1"}}),
        content_type="application/json")
    assert r.status_code == 400 and "mustache" in r.get_json()["error"]
    # the rendered body obeys the advanced-body rules (unknown keys)
    r = post("/search/template", {
        "source": '{"table": "data_lake_tpl", "explain": true}'})
    assert r.status_code == 400
    assert "unsupported request keys" in r.get_json()["error"]


def test_msearch_template_route(client, service, spark):
    """r11: _msearch/template — header/template-body NDJSON pairs,
    per-item errors inline (a missing stored template 404s its slot,
    not the batch)."""
    spark.createDataFrame(
        [(i, f"item {i}", i % 2) for i in range(8)],
        "id long, txt string, grp long",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_mst"))
    client.put("/scripts/by_grp", data=json.dumps({"script": {
        "lang": "mustache",
        "source": '{"query": {"term": {"grp": {{g}}}}, '
                  '"sort": [{"id": "asc"}], "size": 10}'}}),
        content_type="application/json")
    nd = "\n".join([
        json.dumps({"index": "data_lake_mst"}),
        json.dumps({"id": "by_grp", "params": {"g": 0}}),
        json.dumps({"index": "data_lake_mst"}),
        json.dumps({"source": '{"query": {"match": {"txt": "{{q}}"}},'
                              ' "size": 2}',
                    "params": {"q": "item"}}),
        json.dumps({"index": "data_lake_mst"}),
        json.dumps({"id": "nope", "params": {}}),          # 404 slot
        json.dumps({"index": "data_lake_mst"}),
        json.dumps({"source": '{"a": "{{#join}}x{{/join}}"}'}),  # 400
    ]) + "\n"
    r = client.post("/search/msearch_template", data=nd,
                    content_type="application/x-ndjson")
    assert r.status_code == 200
    rs = r.get_json()["responses"]
    assert [x["status"] for x in rs] == [200, 200, 404, 400]
    assert [h["_source"]["id"] for h in rs[0]["hits"]["hits"]] \
        == [0, 2, 4, 6]
    assert len(rs[1]["hits"]["hits"]) == 2
    assert "no stored template" in rs[2]["error"]
    assert "section" in rs[3]["error"]
    # odd line count is the request's 400 (can't pair)
    r = client.post("/search/msearch_template", data='{"index": "x"}\n',
                    content_type="application/x-ndjson")
    assert r.status_code == 400


def test_rank_eval_route(client, service, spark):
    """r11: _rank_eval — precision/recall@k, MRR, (n)DCG, ERR over
    rated requests; per-request details with unrated docs; named 400s
    for the option surface."""
    import math

    spark.createDataFrame(
        [(i, f"doc about {'spark' if i < 6 else 'pandas'} {i}")
         for i in range(10)],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_re"))

    def post(body):
        return client.post("/search/rank_eval", data=json.dumps(body),
                           content_type="application/json")

    # deterministic ranked page: sort by id asc, query matches ids 0-5
    req = {"id": "q1",
           "request": {"query": {"match": {"txt": "spark"}},
                       "sort": [{"id": "asc"}]},
           "ratings": [{"_id": "0", "rating": 3},
                       {"_id": "1", "rating": 0},
                       {"_id": "2", "rating": 1}]}
    # precision@5: ranked = 0..4; relevant(>=1) labeled = 0,2 → 2/5
    r = post({"table": "data_lake_re", "metric":
              {"precision": {"k": 5}}, "requests": [req]})
    assert r.status_code == 200, r.get_json()
    out = r.get_json()
    assert out["metric_score"] == pytest.approx(0.4)
    d = out["details"]["q1"]
    assert d["metric_score"] == pytest.approx(0.4)
    assert [u["_id"] for u in d["unrated_docs"]] == ["3", "4"]
    assert [h["rating"] for h in d["hits"]] == [3, 0, 1, None, None]
    # ignore_unlabeled: 2 relevant of 3 labeled
    r = post({"table": "data_lake_re", "metric": {"precision": {
        "k": 5, "ignore_unlabeled": True}}, "requests": [req]})
    assert r.get_json()["metric_score"] == pytest.approx(2 / 3)
    # recall@2: only doc 0 of the 2 relevant ratings retrieved in top-2
    r = post({"table": "data_lake_re", "metric":
              {"recall": {"k": 2}}, "requests": [req]})
    assert r.get_json()["metric_score"] == pytest.approx(0.5)
    # MRR with threshold 2: first hit rated >=2 is position 1
    r = post({"table": "data_lake_re", "metric": {
        "mean_reciprocal_rank": {"k": 5,
                                 "relevant_rating_threshold": 2}},
        "requests": [req]})
    assert r.get_json()["metric_score"] == pytest.approx(1.0)
    # DCG@3 = (2^3-1)/log2(2) + 0 + (2^1-1)/log2(4)
    want_dcg = 7 / math.log2(2) + 1 / math.log2(4)
    r = post({"table": "data_lake_re", "metric": {"dcg": {"k": 3}},
              "requests": [req]})
    assert r.get_json()["metric_score"] == pytest.approx(want_dcg)
    # nDCG: ideal = ratings sorted desc [3,1,0]
    ideal = 7 / math.log2(2) + 1 / math.log2(3)
    r = post({"table": "data_lake_re", "metric": {"dcg": {
        "k": 3, "normalize": True}}, "requests": [req]})
    assert r.get_json()["metric_score"] == pytest.approx(
        want_dcg / ideal)
    # ERR@2, gmax 3: R1=(2^3-1)/8, R2=0 → ERR = R1
    r = post({"table": "data_lake_re", "metric": {
        "expected_reciprocal_rank": {"k": 2, "maximum_relevance": 3}},
        "requests": [req]})
    assert r.get_json()["metric_score"] == pytest.approx(7 / 8)
    # mean over requests
    req2 = dict(req, id="q2", ratings=[{"_id": "9", "rating": 3}])
    r = post({"table": "data_lake_re", "metric":
              {"precision": {"k": 5}},
              "requests": [req, req2]})
    assert r.get_json()["metric_score"] == pytest.approx(0.2)
    # named 400s
    bad = [
        ({"requests": [req]}, "exactly one metric"),
        ({"requests": [], "metric": {"precision": {}}}, "non-empty"),
        ({"requests": [req], "metric": {"nope": {}}}, "unsupported"),
        ({"requests": [req], "metric": {"precision": {"kk": 1}}},
         "precision options"),
        ({"requests": [req, req], "metric": {"precision": {}}},
         "duplicate"),
        ({"requests": [req],
          "metric": {"expected_reciprocal_rank": {"k": 2}}},
         "maximum_relevance"),
        ({"requests": [{"id": "x", "request": {"query": {}, "from": 2},
                        "ratings": []}],
          "metric": {"precision": {}}}, "unsupported keys"),
    ]
    for body, frag in bad:
        rr = post(dict(body, table="data_lake_re"))
        assert rr.status_code == 400, (body, rr.get_json())
        assert frag in rr.get_json()["error"], (body, rr.get_json())


def test_termvectors_route(client, service, spark):
    """r11: _termvectors — per-field term vectors (freq, positions,
    character offsets from the match analyzer), doc_freq/ttf under
    term_statistics, corpus field_statistics; found:false for a
    missing doc; named 400s for the unimplemented forms."""
    spark.createDataFrame(
        [(1, "Spark merges Spark tables", "alpha"),
         (2, "spark joins tables", "beta"),
         (3, None, "gamma")],
        "id long, txt string, tag string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_tv"))

    def post(body):
        return client.post("/search/termvectors", data=json.dumps(body),
                           content_type="application/json")

    r = post({"table": "data_lake_tv", "id": 1, "fields": ["txt"],
              "term_statistics": True})
    assert r.status_code == 200, r.get_json()
    out = r.get_json()
    assert out["found"] is True and out["_id"] == "1"
    terms = out["term_vectors"]["txt"]["terms"]
    assert terms["spark"]["term_freq"] == 2
    # positions + ORIGINAL-text character offsets
    assert [t["position"] for t in terms["spark"]["tokens"]] == [0, 2]
    assert terms["spark"]["tokens"][0]["start_offset"] == 0
    assert terms["spark"]["tokens"][0]["end_offset"] == 5
    assert terms["merges"]["tokens"][0]["start_offset"] == 6
    # term_statistics across the corpus: 'spark' in docs 1+2, 3 occs
    assert terms["spark"]["doc_freq"] == 2 and terms["spark"]["ttf"] == 3
    assert terms["merges"]["doc_freq"] == 1
    # field_statistics (default true): 7 tokens over 2 non-null docs,
    # 7 distinct (doc, term) pairs minus the repeated spark in doc 1
    fs = out["term_vectors"]["txt"]["field_statistics"]
    assert fs == {"sum_ttf": 7, "doc_count": 2, "sum_doc_freq": 6}
    # default fields = every string column; NULL field rows skipped
    r = post({"table": "data_lake_tv", "id": 3})
    tv = r.get_json()["term_vectors"]
    assert "txt" not in tv and tv["tag"]["terms"]["gamma"]["term_freq"] == 1
    # missing doc: found false, like ES
    r = post({"table": "data_lake_tv", "id": 99})
    assert r.status_code == 200 and r.get_json()["found"] is False
    # named errors: missing table 404, artificial-doc form 400
    assert post({"table": "data_lake_nope", "id": 1}).status_code == 404
    r = post({"table": "data_lake_tv", "doc": {"txt": "x"}, "id": 1})
    assert r.status_code == 400
    assert "unsupported termvectors keys" in r.get_json()["error"]
    assert post({"table": "data_lake_tv"}).status_code == 400


def test_mtermvectors_route(client, service, spark):
    """r11: _mtermvectors — batch term vectors with per-entry errors
    inline; ids form and docs form."""
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_mtv"))

    def post(body):
        return client.post("/search/mtermvectors",
                           data=json.dumps(body),
                           content_type="application/json")

    r = post({"table": "data_lake_mtv", "ids": [1, 2, 99]})
    assert r.status_code == 200
    docs = r.get_json()["docs"]
    assert [d["found"] for d in docs] == [True, True, False]
    assert docs[0]["term_vectors"]["txt"]["terms"]["alpha"]["term_freq"] == 1
    # docs form with a missing table: ITS entry errors, batch survives
    r = post({"docs": [
        {"_index": "data_lake_mtv", "_id": 2,
         "term_statistics": True},
        {"_index": "data_lake_nope", "_id": 1},
    ]})
    docs = r.get_json()["docs"]
    assert docs[0]["term_vectors"]["txt"]["terms"]["beta"]["doc_freq"] == 2
    assert "no such table" in docs[1]["error"]
    # named 400s: neither/both forms
    assert post({"table": "data_lake_mtv"}).status_code == 400
    assert post({"table": "data_lake_mtv", "ids": [1],
                 "docs": []}).status_code == 400


def test_malformed_integer_options_are_named_400s(client, service, spark):
    """r11 hardening: a malformed size/max_edits/rating in the suggest
    or rank_eval surfaces is the caller's named 400, never an
    unhandled ValueError → 500."""
    spark.createDataFrame([(1, "alpha beta")], "id long, txt string") \
        .write.parquet(os.path.join(service.lake_dir, "data_lake_iv"))

    def post(path, body):
        return client.post(path, data=json.dumps(body),
                           content_type="application/json")

    r = post("/search/advanced", {
        "table": "data_lake_iv", "query": {"match_all": {}},
        "suggest": {"c": {"prefix": "al", "completion": {
            "field": "txt", "size": "big"}}}})
    assert r.status_code == 400 and "size" in r.get_json()["error"]
    r = post("/search/advanced", {
        "table": "data_lake_iv", "query": {"match_all": {}},
        "suggest": {"t": {"text": "alpa", "term": {
            "field": "txt", "max_edits": "x"}}}})
    assert r.status_code == 400 and "max_edits" in r.get_json()["error"]
    r = post("/search/rank_eval", {
        "table": "data_lake_iv", "metric": {"precision": {}},
        "requests": [{"id": "q", "request": {"query": {"match_all": {}}},
                      "ratings": [{"_id": "1", "rating": "high"}]}]})
    assert r.status_code == 400 and "rating" in r.get_json()["error"]


# ---------------------------------------------------------------------------
# _delete_by_query / _update_by_query (late r11)
# ---------------------------------------------------------------------------

def _write_dbq_table(service, spark, name):
    rows = [(1, "error", 10, "keep"), (2, "error", 20, "keep"),
            (3, "info", 30, "keep"), (4, None, 40, "keep")]
    spark.createDataFrame(
        rows, "id long, level string, v long, tag string",
    ).write.parquet(os.path.join(service.lake_dir, name))


def test_delete_by_query_removes_matches_only(service, spark):
    _write_dbq_table(service, spark, "data_lake_dbq")
    out = service.delete_by_query(
        "data_lake_dbq", {"term": {"level": "error"}})
    assert out["deleted"] == 2 and out["total"] == 2
    assert out["version_conflicts"] == 0 and out["failures"] == []
    left = sorted(
        r["id"] for r in spark.read.parquet(
            os.path.join(service.lake_dir, "data_lake_dbq")).collect())
    # the NULL-level row is NOT a match (two-valued semantics): it
    # survives, exactly like the search route's hit set
    assert left == [3, 4]
    # idempotent second run deletes nothing
    out2 = service.delete_by_query(
        "data_lake_dbq", {"term": {"level": "error"}})
    assert out2["deleted"] == 0 and out2["batches"] == 0


def test_delete_by_query_route_contract(client, service, spark):
    _write_dbq_table(service, spark, "data_lake_dbqr")
    r = client.post("/search/delete_by_query", data=json.dumps(
        {"index": "data_lake_dbqr", "query": {"term": {"id": 1}},
         "conflicts": "proceed"}), content_type="application/json")
    assert r.status_code == 200 and r.get_json()["deleted"] == 1
    # query is REQUIRED (an unscoped bulk delete must be explicit)
    r = client.post("/search/delete_by_query", data=json.dumps(
        {"index": "data_lake_dbqr"}), content_type="application/json")
    assert r.status_code == 400 and "query" in r.get_json()["error"]
    r = client.post("/search/delete_by_query", data=json.dumps(
        {"index": "data_lake_dbqr", "query": {"match_all": {}},
         "max_docs": 1}), content_type="application/json")
    assert r.status_code == 400 and "max_docs" in r.get_json()["error"]
    r = client.post("/search/delete_by_query", data=json.dumps(
        {"index": "data_lake_nope", "query": {"match_all": {}}}),
        content_type="application/json")
    assert r.status_code == 404 and "no such table" in r.get_json()["error"]


def test_update_by_query_assignment_subset(service, spark):
    _write_dbq_table(service, spark, "data_lake_ubq")
    # scoped += with params; sequential statements see earlier writes
    out = service.update_by_query(
        "data_lake_ubq", {"term": {"level": "error"}},
        {"source": "ctx._source.v += params.d; "
                   "ctx._source.v2 = ctx._source.v * 2",
         "params": {"d": 5}})
    assert out["updated"] == 2 and out["deleted"] == 0
    rows = {r["id"]: r for r in spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_ubq")).collect()}
    assert rows[1]["v"] == 15 and rows[2]["v"] == 25      # += applied
    assert rows[1]["v2"] == 30.0 and rows[2]["v2"] == 50.0  # sees new v
    assert rows[3]["v"] == 30 and rows[3]["v2"] is None   # unmatched
    # v keeps its bigint type (lake schema is the contract)
    assert dict(spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_ubq")).dtypes
    )["v"] == "bigint"


def test_update_by_query_match_all_default_and_400s(service, spark):
    _write_dbq_table(service, spark, "data_lake_ubq2")
    out = service.update_by_query(
        "data_lake_ubq2", None, {"source": "ctx._source.v = 7"})
    assert out["updated"] == 4
    vals = {r["v"] for r in spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_ubq2")).collect()}
    assert vals == {7}
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="unsupported update statement"):
        service.update_by_query(
            "data_lake_ubq2", None, {"source": "ctx.op = 'delete'"})
    with pytest.raises(DslError, match="unsupported update statement"):
        service.update_by_query(
            "data_lake_ubq2", None,
            {"source": "if (ctx._source.v > 1) { ctx._source.v = 0 }"})
    with pytest.raises(DslError, match="requires a script"):
        service.update_by_query("data_lake_ubq2", None, None)
    with pytest.raises(DslError, match="params"):
        service.update_by_query(
            "data_lake_ubq2", None,
            {"source": "ctx._source.v = params.missing"})


def test_update_by_query_route_contract(client, service, spark):
    _write_dbq_table(service, spark, "data_lake_ubqr")
    r = client.post("/search/update_by_query", data=json.dumps(
        {"index": "data_lake_ubqr", "query": {"term": {"id": 3}},
         "script": {"source": "ctx._source.tag = 0"}}),
        content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert body["updated"] == 1 and body["noops"] == 0
    # string column keeps its type: the numeric assignment casts back
    rows = {r2["id"]: r2 for r2 in spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_ubqr")).collect()}
    assert rows[3]["tag"] in ("0", "0.0") and rows[1]["tag"] == "keep"
    r = client.post("/search/update_by_query", data=json.dumps(
        {"index": "data_lake_ubqr", "script": {"source": "x"},
         "max_docs": 2}), content_type="application/json")
    assert r.status_code == 400 and "max_docs" in r.get_json()["error"]


def test_reindex_copy_filter_and_script(client, service, spark):
    """r11 late: _reindex copies the query-scoped source into dest,
    optionally transformed by the shared assignment subset; missing
    dest is created, existing dest appends; op_type/remote named 400s."""
    _write_dbq_table(service, spark, "data_lake_rix_src")
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix_src",
                   "query": {"term": {"level": "error"}}},
        "dest": {"index": "data_lake_rix_dst"},
        "script": {"source": "ctx._source.v = ctx._source.v + 100"},
    }), content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert body["created"] == 2 and body["failures"] == []
    rows = {x["id"]: x for x in spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_rix_dst")).collect()}
    assert sorted(rows) == [1, 2]
    assert rows[1]["v"] == 110 and rows[2]["v"] == 120
    # source untouched
    src = {x["id"]: x for x in spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_rix_src")).collect()}
    assert src[1]["v"] == 10
    # existing dest appends
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix_src",
                   "query": {"term": {"id": 3}}},
        "dest": {"index": "data_lake_rix_dst"},
    }), content_type="application/json")
    assert r.status_code == 200 and r.get_json()["created"] == 1
    assert spark.read.parquet(os.path.join(
        service.lake_dir, "data_lake_rix_dst")).count() == 3
    # id/cluster semantics have nothing to bind to: named 400s
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix_src", "remote": {}},
        "dest": {"index": "x"}}), content_type="application/json")
    assert r.status_code == 400 and "source keys" in r.get_json()["error"]
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix_src"},
        "dest": {"index": "x", "op_type": "create"}}),
        content_type="application/json")
    assert r.status_code == 400 and "dest keys" in r.get_json()["error"]
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix_src"},
        "dest": {"index": "data_lake_rix_src"}}),
        content_type="application/json")
    assert r.status_code == 400 and "must differ" in r.get_json()["error"]


def test_reindex_merges_by_id(client, service, spark):
    """r12 (verdict missing #4): an existing dest with an id column
    merges like ES's default op_type index — same-id incoming rows
    OVERWRITE the dest rows (counted as updated), new ids append
    (created); the pre-r12 append-duplicates divergence is closed."""
    _write_dbq_table(service, spark, "data_lake_rim_src")
    # seed dest with ids 2,3 (v=999 marks the stale versions) + id 9
    spark.createDataFrame(
        [(2, "error", 999, "stale"), (3, "warn", 999, "stale"),
         (9, "info", 90, "keep")],
        "id long, level string, v long, tag string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rim_dst"))
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rim_src"},
        "dest": {"index": "data_lake_rim_dst"}}),
        content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    # source has ids 1..4: 2 and 3 collide (updated), 1 and 4 are new
    assert body["updated"] == 2 and body["created"] == 2
    assert body["total"] == 4
    rows = {x["id"]: x for x in spark.read.parquet(
        os.path.join(service.lake_dir, "data_lake_rim_dst")).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 9]
    # colliding ids carry the SOURCE versions now, not the stale ones
    assert rows[2]["tag"] != "stale" and rows[3]["tag"] != "stale"
    assert rows[9]["tag"] == "keep"  # untouched dest row survives
    # idempotent: re-running overwrites the same ids again
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rim_src"},
        "dest": {"index": "data_lake_rim_dst"}}),
        content_type="application/json")
    assert r.get_json()["updated"] == 4
    assert r.get_json()["created"] == 0
    assert spark.read.parquet(os.path.join(
        service.lake_dir, "data_lake_rim_dst")).count() == 5


def test_reindex_rejects_schema_mismatch(client, service, spark):
    _write_dbq_table(service, spark, "data_lake_rix2_src")
    spark.createDataFrame([(1, "x")], "other long, shape string") \
        .write.parquet(os.path.join(service.lake_dir, "data_lake_rix2_dst"))
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix2_src"},
        "dest": {"index": "data_lake_rix2_dst"}}),
        content_type="application/json")
    assert r.status_code == 400
    assert "schema mismatch" in r.get_json()["error"]


def test_reindex_rejects_same_names_different_types(client, service, spark):
    """r12 ADVICE regression: the dest guard must compare TYPES, not
    just column names — same-named columns with different types used to
    pass and append mixed-type parquet files into one directory."""
    _write_dbq_table(service, spark, "data_lake_rix3_src")
    src_cols = spark.read.parquet(os.path.join(
        service.lake_dir, "data_lake_rix3_src")).schema.fieldNames()
    # same names, but every column retyped to string
    spark.createDataFrame(
        [tuple("x" for _ in src_cols)],
        ", ".join(f"`{c}` string" for c in src_cols),
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rix3_dst"))
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rix3_src"},
        "dest": {"index": "data_lake_rix3_dst"}}),
        content_type="application/json")
    assert r.status_code == 400
    err = r.get_json()["error"]
    assert "schema mismatch" in err and "retyped" in err
    # the mismatched column and both types are named in the 400
    assert "string" in err
    # dest untouched: still exactly one row
    assert spark.read.parquet(os.path.join(
        service.lake_dir, "data_lake_rix3_dst")).count() == 1


def test_async_search_lifecycle(client, service, spark):
    """r11 late: _async_search — always-completed responses (the
    engine has no shard fan-out to wait on), keep_on_completion stores
    under an id for GET/DELETE; tuning knobs accepted-and-ignored."""
    _write_dbq_table(service, spark, "data_lake_async")
    r = client.post("/search/async", data=json.dumps({
        "table": "data_lake_async", "query": {"term": {"level": "info"}},
        "wait_for_completion_timeout": "10ms",
        "batched_reduce_size": 5}), content_type="application/json")
    assert r.status_code == 200
    env = r.get_json()
    assert env["is_running"] is False and env["is_partial"] is False
    assert "id" not in env  # completed and not kept: no id, like ES
    assert env["response"]["hits"]["total"]["value"] == 1
    # keep_on_completion stores it
    r = client.post("/search/async", data=json.dumps({
        "table": "data_lake_async", "query": {"match_all": {}},
        "keep_on_completion": True, "keep_alive": "10m"}),
        content_type="application/json")
    env = r.get_json()
    sid = env["id"]
    assert env["expiration_time_in_millis"] - env["start_time_in_millis"] \
        == 600_000
    g = client.get(f"/search/async/{sid}")
    assert g.status_code == 200
    assert g.get_json()["response"]["hits"]["total"]["value"] == 4
    d = client.delete(f"/search/async/{sid}")
    assert d.status_code == 200 and d.get_json()["acknowledged"]
    assert client.get(f"/search/async/{sid}").status_code == 404
    assert client.delete(f"/search/async/{sid}").status_code == 404
    # named 400s: bad keep_alive, bad body keys flow through the
    # advanced pipeline's rejection
    r = client.post("/search/async", data=json.dumps({
        "table": "data_lake_async", "query": {"match_all": {}},
        "keep_alive": "soon"}), content_type="application/json")
    assert r.status_code == 400 and "keep_alive" in r.get_json()["error"]
    r = client.post("/search/async", data=json.dumps({
        "table": "data_lake_async", "query": {"match_all": {}},
        "ccs_minimize_roundtrips": True}), content_type="application/json")
    assert r.status_code == 400


def test_sql_endpoint_pages_and_read_only_gate(client, service, spark):
    """r11 late: /search/sql — ES SQL wire shape over the engine's
    native SQL. First page carries columns+rows+cursor, cursor pages
    drain rows only, columnar transposes, the parsed-plan gate
    rejects every write/command form including WITH-nested inserts."""
    _write_dbq_table(service, spark, "data_lake_sqlt")
    r = client.post("/search/sql", data=json.dumps({
        "query": "SELECT id, v FROM data_lake_sqlt ORDER BY id",
        "fetch_size": 3}), content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert [c["name"] for c in body["columns"]] == ["id", "v"]
    assert [c["type"] for c in body["columns"]] == ["long", "long"]
    assert body["rows"] == [[1, 10], [2, 20], [3, 30]]
    cur = body["cursor"]
    r2 = client.post("/search/sql", data=json.dumps({"cursor": cur}),
                     content_type="application/json")
    b2 = r2.get_json()
    assert "columns" not in b2 and b2["rows"] == [[4, 40]]
    assert "cursor" not in b2  # drained
    # aggregation + columnar
    r = client.post("/search/sql", data=json.dumps({
        "query": "SELECT level, count(*) AS n FROM data_lake_sqlt "
                 "WHERE level IS NOT NULL GROUP BY level ORDER BY level",
        "columnar": True}), content_type="application/json")
    b = r.get_json()
    assert b["values"] == [["error", "info"], [2, 1]]
    # read-only gate: plain and WITH-nested commands, parse errors
    for bad in ("DROP TABLE data_lake_sqlt",
                "INSERT INTO data_lake_sqlt VALUES (9,'x',9,'x')",
                "WITH x AS (SELECT 1) INSERT INTO data_lake_sqlt "
                "SELECT 9,'x',9,'x'",
                "CREATE TABLE zz (a INT)",
                "SET spark.sql.shuffle.partitions=1"):
        r = client.post("/search/sql", data=json.dumps({"query": bad}),
                        content_type="application/json")
        assert r.status_code == 400, bad
        assert "read-only" in r.get_json()["error"], bad
    r = client.post("/search/sql", data=json.dumps(
        {"query": "SELEC nope"}), content_type="application/json")
    assert r.status_code == 400 and "parse error" in r.get_json()["error"]
    # cursor close lifecycle
    r = client.post("/search/sql", data=json.dumps({
        "query": "SELECT id FROM data_lake_sqlt", "fetch_size": 1}),
        content_type="application/json")
    cur = r.get_json()["cursor"]
    r = client.post("/search/sql/close", data=json.dumps({"cursor": cur}),
                    content_type="application/json")
    assert r.get_json()["succeeded"] is True
    r = client.post("/search/sql/close", data=json.dumps({"cursor": cur}),
                    content_type="application/json")
    assert r.get_json()["succeeded"] is False


def test_mapping_route(client, service, spark):
    """r11 late: GET _mapping derived from the parquet schema through
    the same ladder as the live-cluster index codegen."""
    _write_dbq_table(service, spark, "data_lake_mapt")
    r = client.get("/search/mapping?table=data_lake_mapt")
    assert r.status_code == 200
    props = r.get_json()["data_lake_mapt"]["mappings"]["properties"]
    assert props["id"]["type"] == "long"
    assert props["level"]["type"] == "keyword"
    r = client.get("/search/mapping?table=data_lake_map*")
    assert "data_lake_mapt" in r.get_json()
    assert client.get("/search/mapping?table=nope_zz").status_code == 404
    assert client.get("/search/mapping").status_code == 400


def test_stats_route(client, service, spark):
    """r11 late: _stats — docs count + store bytes per table, _all
    rollup, wildcard selection."""
    _write_dbq_table(service, spark, "data_lake_statt")
    r = client.get("/search/stats?table=data_lake_statt")
    assert r.status_code == 200
    b = r.get_json()
    pri = b["indices"]["data_lake_statt"]["primaries"]
    assert pri["docs"]["count"] == 4
    assert pri["store"]["size_in_bytes"] > 0
    assert pri["store"]["file_count"] >= 1
    assert b["_all"]["primaries"]["docs"]["count"] == 4
    assert client.get("/search/stats?table=zz_nope").status_code == 404


def test_async_search_lazy_expiry_and_sql_cursor_cap(client, service, spark):
    """r11 late: keep_alive enforcement is lazy (an expired async
    entry 404s and drops on touch); the SQL cursor store is bounded
    (oldest evicted past the cap)."""
    _write_dbq_table(service, spark, "data_lake_ttl")
    r = client.post("/search/async", data=json.dumps({
        "table": "data_lake_ttl", "query": {"match_all": {}},
        "keep_on_completion": True, "keep_alive": "1ms"}),
        content_type="application/json")
    sid = r.get_json()["id"]
    import time as _t

    _t.sleep(0.01)
    assert client.get(f"/search/async/{sid}").status_code == 404
    # cursor cap: 102 open cursors -> the first two evicted
    first = None
    for i in range(102):
        r = client.post("/search/sql", data=json.dumps({
            "query": "SELECT id FROM data_lake_ttl", "fetch_size": 1}),
            content_type="application/json")
        cur = r.get_json()["cursor"]
        if first is None:
            first = cur
    r = client.post("/search/sql", data=json.dumps({"cursor": first}),
                    content_type="application/json")
    assert r.status_code == 400 and "unknown cursor" in r.get_json()["error"]
    r = client.post("/search/sql", data=json.dumps({"cursor": cur}),
                    content_type="application/json")
    assert r.status_code == 200


def test_cat_indices_and_count(client, service, spark):
    """r12: the _cat ops surface — indices listing (text columns /
    format=json) and the count one-liner, pattern-filtered."""
    spark.createDataFrame([(1,), (2,)], "id long").write.parquet(
        os.path.join(service.lake_dir, "data_lake_cat1"))
    spark.createDataFrame([(3,)], "id long").write.parquet(
        os.path.join(service.lake_dir, "data_lake_cat2"))
    r = client.get("/cat/indices?index=data_lake_cat*&format=json")
    assert r.status_code == 200
    rows = r.get_json()
    assert [x["index"] for x in rows] == ["data_lake_cat1",
                                          "data_lake_cat2"]
    assert rows[0]["docs.count"] == "2" and rows[0]["health"] == "green"
    assert rows[0]["store.size"].endswith("b")
    # text format: whitespace-aligned columns, one line per index
    r = client.get("/cat/indices?index=data_lake_cat*")
    assert r.status_code == 200
    lines = r.get_data(as_text=True).splitlines()
    assert len(lines) == 2 and "data_lake_cat1" in lines[0]
    r = client.get("/cat/count?index=data_lake_cat*&format=json")
    assert r.get_json()[0]["count"] == "3"
    r = client.get("/cat/count?index=data_lake_cat*")
    assert r.get_data(as_text=True).strip().endswith(" 3")
    assert client.get("/cat/indices?format=xml").status_code == 400


def test_reindex_counts_with_duplicate_dest_ids(client, service, spark):
    """r12 ADVICE (medium) regression: `updated` must count INCOMING
    rows whose id exists in dest, not dest rows matching incoming ids
    — a dest holding duplicate ids (possible from pre-r12 appends)
    used to drive updated above total and `created` negative."""
    _write_dbq_table(service, spark, "data_lake_rdd_src")  # ids 1..4
    # dest holds id 2 THREE times plus an untouched id 9
    spark.createDataFrame(
        [(2, "error", 991, "stale"), (2, "error", 992, "stale"),
         (2, "error", 993, "stale"), (9, "info", 90, "keep")],
        "id long, level string, v long, tag string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rdd_dst"))
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rdd_src"},
        "dest": {"index": "data_lake_rdd_dst"}}),
        content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    # id 2 collides (ONE incoming doc overwrites all three stale
    # copies); 1, 3, 4 are new — created must never go negative
    assert body["total"] == 4
    assert body["updated"] == 1 and body["created"] == 3
    rows = spark.read.parquet(os.path.join(
        service.lake_dir, "data_lake_rdd_dst")).collect()
    by_id = {}
    for x in rows:
        by_id.setdefault(x["id"], []).append(x)
    assert sorted(by_id) == [1, 2, 3, 4, 9]
    # the three stale copies collapsed to the single source doc
    assert len(by_id[2]) == 1 and by_id[2][0]["tag"] != "stale"
    assert by_id[9][0]["tag"] == "keep"


def test_reindex_rejects_duplicate_source_ids(client, service, spark):
    """r12 ADVICE (medium) regression: duplicate ids INSIDE the
    incoming source are a named 400 — ES's last-wins depends on scroll
    order, which a parquet scan does not have; silently keeping every
    copy (the old union behavior) diverged from ES's one-doc-per-_id."""
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, tag string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rds_src"))
    spark.createDataFrame(
        [(2, "old")], "id long, tag string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rds_dst"))
    r = client.post("/search/reindex", data=json.dumps({
        "source": {"index": "data_lake_rds_src"},
        "dest": {"index": "data_lake_rds_dst"}}),
        content_type="application/json")
    assert r.status_code == 400
    err = r.get_json()["error"]
    assert "duplicate" in err and "'id'" in err
    # dest untouched on rejection
    assert spark.read.parquet(os.path.join(
        service.lake_dir, "data_lake_rds_dst")).count() == 1


def test_ranked_max_score_is_global_not_page_slice(service, spark):
    """r12 ADVICE regression: hits.max_score reports the best MATCHING
    doc's score regardless of the from_ offset — slicing first made a
    paged request (from_>0) report the page's best instead, unlike ES."""
    spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark spark"), (3, "spark")],
        "id long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_gms"))
    first = service.advanced_search(
        "data_lake_gms",
        {"multi_match": {"query": "spark", "fields": ["txt"]}}, k=1)
    best = first["hits"]["max_score"]
    assert best == first["hits"]["hits"][0]["_score"]
    paged = service.advanced_search(
        "data_lake_gms",
        {"multi_match": {"query": "spark", "fields": ["txt"]}},
        k=1, from_=2)
    # page carries the 3rd-best hit but max_score is still the global
    assert paged["hits"]["hits"][0]["_score"] < best
    assert paged["hits"]["max_score"] == best


def test_malformed_scoring_options_are_named_400s(service, spark):
    """r12 ADVICE regression: a non-dict collapse, a scalar
    indices_boost, and non-numeric rescore window/weights must raise
    DslError (named 400s), not AttributeError/TypeError/ValueError."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    spark.createDataFrame([(1, "spark")], "id long, txt string") \
        .write.parquet(os.path.join(service.lake_dir, "data_lake_m4"))
    q = {"multi_match": {"query": "spark", "fields": ["txt"]}}
    with pytest.raises(DslError, match="collapse"):
        service.advanced_search("data_lake_m4", q, collapse=["txt"])
    with pytest.raises(DslError, match="collapse"):
        service.advanced_search("data_lake_m4", q, collapse="txt")
    with pytest.raises(DslError, match="indices_boost"):
        service.advanced_search("data_lake_m4", q, indices_boost=7)
    with pytest.raises(DslError, match="window_size"):
        service.advanced_search("data_lake_m4", q, rescore={
            "window_size": "ten",
            "query": {"rescore_query": {"match": {"txt": "spark"}}}})
    with pytest.raises(DslError, match="query_weight"):
        service.advanced_search("data_lake_m4", q, rescore={
            "query": {"rescore_query": {"match": {"txt": "spark"}},
                      "query_weight": "heavy"}})
    with pytest.raises(DslError, match="rescore_query_weight"):
        service.advanced_search("data_lake_m4", q, rescore={
            "query": {"rescore_query": {"match": {"txt": "spark"}},
                      "rescore_query_weight": True}})
    # the legacy multi_match route shares the same validation
    with pytest.raises(DslError, match="window_size"):
        service.search("spark", ["data_lake_m4"], rescore={
            "window_size": -1,
            "query": {"rescore_query": {"match": {"txt": "spark"}}}})


def test_rescore_zero_score_match_still_combines(service, spark):
    """r12 ADVICE regression: matched-ness comes from the rescore
    query's membership predicate, not score truthiness — a matched doc
    whose rescore query legitimately scores 0.0 (boost 0) must combine
    (multiply → 0), where the truthiness proxy kept qw·original."""
    spark.createDataFrame(
        [(1, "spark spark", "loop"), (2, "spark", "nothing")],
        "id long, txt string, extra string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_rz"))
    out = service.search("spark", ["data_lake_rz"], k=2, rescore={
        "window_size": 10,
        "query": {"rescore_query": {
            "match": {"extra": {"query": "loop", "boost": 0}}},
            "score_mode": "multiply"}})
    hits = {h["_source"]["id"]: h["_score"] for h in out["hits"]["hits"]}
    # doc1 MATCHES the rescore query with score 0·tf = 0 → 2·0 = 0;
    # doc2 does not match → keeps query_weight·original = 1
    assert hits[1] == 0.0 and hits[2] == 1.0
    # same semantics on the ranked advanced page
    out = service.advanced_search(
        "data_lake_rz",
        {"multi_match": {"query": "spark", "fields": ["txt"]}},
        k=2, rescore={
            "window_size": 10,
            "query": {"rescore_query": {
                "match": {"extra": {"query": "loop", "boost": 0}}},
                "score_mode": "multiply"}})
    hits = {h["_source"]["id"]: h["_score"]
            for h in out["hits"]["hits"]}
    assert hits[1] == 0.0 and hits[2] == 1.0


def test_highlight_passage_bm25_scorer():
    """r13 (r12 verdict #4): ``order: "score"`` ranks fragments with
    Lucene's passage BM25 (PassageScorer restated — document-local
    statistics). Parity is checked against an INDEPENDENT hand
    computation of the formula, and against the ordering property the
    old occurrence-count proxy got wrong: fewer occurrences of a RARE
    term outrank more occurrences of a common one."""
    import math

    from sql_database_to_elastic_datalake_spark.plans.search import (
        highlight_snippets,
        passage_scores,
    )

    filler = "x" * 150
    # common appears 6x in the doc, rare once; fragment A holds two
    # commons, fragment B the one rare term
    text = (f"common common here {filler} "
            f"rare here {filler} "
            f"common common common common tail")
    windows = [(0, 60), (170, 230)]
    got = passage_scores(text, ["common", "rare"], windows)

    # independent replication of the Lucene formula
    def hand(window, occ_by_term, ttf, content_len):
        k1, b, pivot = 1.2, 0.75, 87.0
        st, en = window
        num_docs = 1 + content_len / pivot
        total = 0.0
        for t, starts in occ_by_term.items():
            freq = sum(1 for i in starts if st <= i < en)
            if not freq:
                continue
            w = (k1 + 1) * math.log(1 + (num_docs + 0.5) / (ttf[t] + 0.5))
            tf = freq / (freq + k1 * ((1 - b) + b * (en - st) / pivot))
            total += w * tf
        return (1 + 1 / math.log(pivot + st)) * total

    low = text.lower()

    def find_all(t):
        out, i = [], 0
        while True:
            i = low.find(t, i)
            if i < 0:
                return out
            out.append(i)
            i += 1

    occ = {t: find_all(t) for t in ("common", "rare")}
    ttf = {t: len(v) for t, v in occ.items()}
    for w, g in zip(windows, got):
        assert g == hand(w, occ, ttf, len(text))

    # the BM25 property the occurrence count missed: one rare match
    # beats two common ones (and position bias favors neither enough
    # to flip it — fragment B sits LATER yet still wins)
    frags = highlight_snippets(
        text, ["common", "rare"], "<em>", "</em>",
        fragment_size=40, number_of_fragments=2, order="score")
    assert "rare" in frags[0] and "<em>rare</em>" in frags[0]
    # position tie-break on exact equal scores: identical windows rank
    # by start offset... and equal-content fragments favor the earlier
    same = f"needle {filler} needle {filler}"
    sf = highlight_snippets(
        same, ["needle"], "<em>", "</em>",
        fragment_size=30, number_of_fragments=2, order="score")
    assert sf[0].index("<em>") >= 0
    s1, s2 = passage_scores(same, ["needle"], [(0, 30), (157, 187)])
    assert s1 > s2  # same content, earlier passage scores higher


def test_template_partials_from_stored_namespace(client, service, spark):
    """r13 (r12 verdict #5): ``{{>name}}`` renders the STORED template
    ``name`` in the calling context — store a shared query fragment,
    reference it from an inline template and from another stored
    template, and verify the rendered bodies; recursive and unknown
    partials stay named 400s."""
    spark.createDataFrame([(1, "spark rocks")], "id long, txt string") \
        .write.parquet(os.path.join(service.lake_dir, "data_lake_tp"))

    def post(path, body):
        return client.post(path, data=json.dumps(body),
                           content_type="application/json")

    # the shared fragment: a match clause parameterized by the CALLER's
    # params (partials inherit the calling context)
    r = client.put("/scripts/match_frag", data=json.dumps({
        "script": {"lang": "mustache",
                   "source": '{"match": {"txt": "{{q}}"}}'}}),
        content_type="application/json")
    assert r.status_code == 200
    r = post("/render/template", {
        "source": '{"query": {{>match_frag}}, "size": {{n}}}',
        "params": {"q": "spark", "n": 3}})
    assert r.status_code == 200
    assert r.get_json()["template_output"] == {
        "query": {"match": {"txt": "spark"}}, "size": 3}
    # a stored template that itself uses the partial, end-to-end search
    r = client.put("/scripts/outer_tpl", data=json.dumps({
        "script": {"lang": "mustache",
                   "source": '{"query": {{>match_frag}}}'}}),
        content_type="application/json")
    assert r.status_code == 200
    r = post("/search/template", {"id": "outer_tpl", "table":
             "data_lake_tp", "params": {"q": "spark"}})
    assert r.status_code == 200
    assert r.get_json()["hits"]["total"]["value"] == 1
    # partials render in the calling context: a section list replays
    # the fragment once per element
    r = client.put("/scripts/item_frag", data=json.dumps({
        "script": {"lang": "mustache", "source": ', {{.}}'}}),
        content_type="application/json")
    r = post("/render/template", {
        "source": '{"seq": [0{{#xs}}{{>item_frag}}{{/xs}}]}',
        "params": {"xs": [7, 8]}})
    assert r.get_json()["template_output"] == {"seq": [0, 7, 8]}
    # recursion is a named 400, not a hang
    r = client.put("/scripts/loop_tpl", data=json.dumps({
        "script": {"lang": "mustache",
                   "source": '{"a": "{{>loop_tpl}}"}'}}),
        content_type="application/json")
    r = post("/render/template", {"id": "loop_tpl", "params": {}})
    assert r.status_code == 400
    assert "recursive template partial" in r.get_json()["error"]


def test_percolate_reverse_search(client, service, spark):
    """r13 (r12 verdict stretch #10): the percolate query — stored
    query trees matched against request documents. Store rules, match
    single and batched docs (slot annotations), exercise the named
    400s, and confirm storage-time validation rejects malformed
    trees."""
    def put(pid, query):
        return client.put(f"/percolator/{pid}", data=json.dumps(
            {"query": query}), content_type="application/json")

    assert put("hot", {"range": {"temp": {"gte": 30}}}).status_code == 200
    assert put("spark_doc",
               {"match": {"txt": "spark"}}).status_code == 200
    # malformed tree 400s AT STORE TIME
    r = put("bad", {"frobnicate": {"x": 1}})
    assert r.status_code == 400
    assert "unsupported query kind" in r.get_json()["error"]
    # single document
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_anything",
        "query": {"percolate": {"field": "query", "document":
                  {"temp": 35, "txt": "nothing here"}}}}),
        content_type="application/json")
    assert r.status_code == 200
    body = r.get_json()
    assert [h["_id"] for h in body["hits"]["hits"]] == ["hot"]
    assert body["hits"]["hits"][0]["_source"]["query"] == {
        "range": {"temp": {"gte": 30}}}
    assert body["hits"]["total"]["value"] == 1
    # batch documents carry ES's _percolator_document_slot
    r = client.post("/search/advanced", data=json.dumps({
        "table": "t", "query": {"percolate": {"documents": [
            {"temp": 35}, {"txt": "spark is fast"},
            {"temp": 40, "txt": "spark"}]}}}),
        content_type="application/json")
    hits = {h["_id"]: h["fields"]["_percolator_document_slot"]
            for h in r.get_json()["hits"]["hits"]}
    assert hits == {"hot": [0, 2], "spark_doc": [1, 2]}
    # a doc missing every queried field matches nothing
    r = client.post("/search/advanced", data=json.dumps({
        "table": "t", "query": {"percolate": {"document":
                                              {"other": 1}}}}),
        content_type="application/json")
    assert r.get_json()["hits"]["total"]["value"] == 0
    assert r.get_json()["hits"]["max_score"] is None
    # index-based percolation (r13 late): percolate a doc already in
    # a lake table — one point lookup, then the inline path
    spark.createDataFrame(
        [(1, 35, "spark rules"), (2, 10, "cold prose")],
        "id long, temp long, txt string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_perc"))
    r = client.post("/search/advanced", data=json.dumps({
        "table": "t", "query": {"percolate": {
            "index": "data_lake_perc", "id": 1}}}),
        content_type="application/json")
    assert r.status_code == 200
    assert sorted(h["_id"] for h in r.get_json()["hits"]["hits"]) \
        == ["hot", "spark_doc"]
    r = client.post("/search/advanced", data=json.dumps({
        "table": "t", "query": {"percolate": {
            "index": "data_lake_perc", "id": 2}}}),
        content_type="application/json")
    assert r.get_json()["hits"]["total"]["value"] == 0
    # missing referenced doc / table → 404
    for ref in [{"index": "data_lake_perc", "id": 99},
                {"index": "data_lake_nope", "id": 1}]:
        r = client.post("/search/advanced", data=json.dumps(
            {"table": "t", "query": {"percolate": ref}}),
            content_type="application/json")
        assert r.status_code == 404
    # named 400s: form combos, unknown options, dangling index/id
    for body, frag in [
        ({"percolate": {"document": {"a": 1},
                        "documents": [{"a": 1}]}}, "exactly one"),
        ({"percolate": {}}, "exactly one"),
        ({"percolate": {"document": {"a": 1}, "index": "x"}},
         "exactly one"),
        ({"percolate": {"index": "data_lake_perc"}},
         "both index and id"),
        ({"percolate": {"document": {"a": 1}, "routing": "r"}},
         "unsupported percolate options"),
    ]:
        r = client.post("/search/advanced", data=json.dumps(
            {"table": "t", "query": body}),
            content_type="application/json")
        assert r.status_code == 400 and frag in r.get_json()["error"]
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
    )

    with pytest.raises(DslError, match="percolate is not supported"):
        service.advanced_search(
            "t", {"percolate": {"document": {"a": 1}}},
            sort=[{"a": "asc"}])
    # namespace round-trip
    r = client.get("/percolator/hot")
    assert r.status_code == 200 and r.get_json()["found"] is True
    assert client.delete("/percolator/hot").status_code == 200
    assert client.get("/percolator/hot").status_code == 404


def test_percolate_corpus_operator(spark, tmp_path):
    """The scale form: a whole table against the stored set in one
    scan — plan has no joins and no shuffles of its own."""
    from sql_database_to_elastic_datalake_spark.plans.percolate import (
        percolate_corpus,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 35.0, "spark rocks"), (3, 50.0, "spark")],
        "id long, temp double, txt string")
    out = percolate_corpus(df, {
        "hot": {"range": {"temp": {"gte": 30}}},
        "sparky": {"match": {"txt": "spark"}},
    }, id_cols=["id"])
    got = sorted((r["id"], r["query_id"]) for r in out.collect())
    assert got == [(2, "hot"), (2, "sparky"), (3, "hot"),
                   (3, "sparky")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_explain_route(client, service, spark):
    """r13: ES _explain — matched + deterministic score + one level of
    bool-clause detail in ONE point-lookup job; missing doc is a 404
    envelope, not an error."""
    spark.createDataFrame(
        [(1, "spark spark fast", 10), (2, "slow", 99)],
        "id long, txt string, v long",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_ex"))
    q = {"bool": {"must": [{"match": {"txt": "spark"}}],
                  "should": [{"range": {"v": {"gte": 50}}}]}}
    r = client.post("/search/explain", data=json.dumps({
        "table": "data_lake_ex", "id": 1, "query": q}),
        content_type="application/json")
    assert r.status_code == 200
    out = r.get_json()
    assert out["matched"] is True and out["found"] is True
    exp = out["explanation"]
    # tf score: 2 occurrences of "spark"; should-range doesn't match
    assert exp["value"] == 2.0
    assert [d["value"] for d in exp["details"]] == [2.0, 0.0]
    assert "no match" in exp["details"][1]["description"]
    # non-matching doc: matched False, value 0
    r = client.post("/search/explain", data=json.dumps({
        "table": "data_lake_ex", "id": 2, "query": q}),
        content_type="application/json")
    out = r.get_json()
    assert out["matched"] is False and out["explanation"]["value"] == 0.0
    # missing doc: 404 envelope with found False
    r = client.post("/search/explain", data=json.dumps({
        "table": "data_lake_ex", "id": 99, "query": q}),
        content_type="application/json")
    assert r.status_code == 404 and r.get_json()["found"] is False
    # unknown table 404s; malformed body 400s by name
    r = client.post("/search/explain", data=json.dumps({
        "table": "data_lake_nope", "id": 1, "query": q}),
        content_type="application/json")
    assert r.status_code == 404
    r = client.post("/search/explain", data=json.dumps({
        "table": "data_lake_ex", "id": 1, "query": q, "extra": 1}),
        content_type="application/json")
    assert r.status_code == 400
    assert "unsupported explain keys" in r.get_json()["error"]


_MISSING = "data_lake_missing"

#: every route that takes a table, each naming the missing one
_MISSING_TABLE_REQUESTS = {
    "search": ("POST", "/search", {"query": "x", "tables": [_MISSING]}),
    "advanced": ("POST", "/search/advanced",
                 {"table": _MISSING, "query": {"term": {"t": "x"}}}),
    "advanced_ranked": ("POST", "/search/advanced",
                        {"table": _MISSING, "query": {"match": {"t": "x"}}}),
    "advanced_knn": ("POST", "/search/advanced", {
        "table": _MISSING,
        "knn": {"field": "vec", "query_vector": [1.0, 0.0]}}),
    "advanced_scroll": ("POST", "/search/advanced",
                        {"table": _MISSING, "scroll": "1m"}),
    "advanced_mlt_like_id": ("POST", "/search/advanced", {
        "table": _MISSING, "query": {"more_like_this": {
            "fields": ["t"], "like": [{"_id": 1}]}}}),
    "advanced_terms_lookup": ("POST", "/search/advanced", {
        "table": _MISSING,
        "query": {"terms": {"t": {"id": 1, "path": "t"}}}}),
    "percolate_index_ref": ("POST", "/search/advanced", {
        "query": {"percolate": {"field": "query", "index": _MISSING,
                                "id": 1}}}),
    "count": ("POST", "/search/count", {"table": _MISSING}),
    "delete_by_query": ("POST", "/search/delete_by_query",
                        {"table": _MISSING, "query": {"match_all": {}}}),
    "update_by_query": ("POST", "/search/update_by_query", {
        "table": _MISSING, "script": {"source": "ctx._source.v = 1"}}),
    "reindex_source": ("POST", "/search/reindex", {
        "source": {"index": _MISSING}, "dest": {"index": "data_lake_d"}}),
    "field_caps": ("POST", "/search/field_caps", {"table": _MISSING}),
    "terms_enum": ("POST", "/search/terms_enum",
                   {"table": _MISSING, "field": "t"}),
    "termvectors": ("POST", "/search/termvectors",
                    {"table": _MISSING, "id": 1}),
    "explain": ("POST", "/search/explain", {"table": _MISSING, "id": 1}),
    "pit": ("POST", "/search/pit", {"table": _MISSING}),
    "validate": ("POST", "/search/validate",
                 {"table": _MISSING, "query": {"match_all": {}}}),
    "mapping": ("GET", f"/search/mapping?table={_MISSING}", None),
    "stats": ("GET", f"/search/stats?table={_MISSING}", None),
    "cat_indices": ("GET", f"/cat/indices?index={_MISSING}", None),
    "cat_count": ("GET", f"/cat/count?index={_MISSING}", None),
}


@pytest.mark.parametrize("route", sorted(_MISSING_TABLE_REQUESTS))
def test_missing_table_is_404(client, service, route):
    """A missing concrete table is Elasticsearch's 404 in every route
    that takes one, with the same error body — one resolver
    (LakeService._tables/_read) names, reads and 404s every table."""
    _write_lake_table(service, "data_lake_here", [(1, "x")],
                      "id long, t string")
    method, url, body = _MISSING_TABLE_REQUESTS[route]
    if method == "GET":
        r = client.get(url)
    else:
        r = client.post(url, data=json.dumps(body),
                        content_type="application/json")
    assert r.status_code == 404, r.get_data(as_text=True)
    assert r.get_json()["error"] == f"no such table {_MISSING!r}"


def test_missing_table_fails_only_its_msearch_slot(client, service):
    """A slot naming a missing table — directly or through a percolate
    index reference — is ITS slot's 404; the batch still answers 200."""
    _write_lake_table(service, "data_lake_here", [(1, "x")],
                      "id long, t string")
    nd = "\n".join(json.dumps(x) for x in [
        {"index": "data_lake_here"}, {"query": {"match_all": {}}},
        {"index": _MISSING}, {"query": {"match_all": {}}},
        {}, {"query": {"percolate": {"field": "query",
                                     "index": _MISSING, "id": 1}}},
    ]) + "\n"
    r = client.post("/search/msearch", data=nd,
                    content_type="application/x-ndjson")
    assert r.status_code == 200
    rs = r.get_json()["responses"]
    assert [x["status"] for x in rs] == [200, 404, 404]
    assert rs[1]["error"] == f"no such table {_MISSING!r}"


def test_empty_wildcard_is_an_empty_result(client, service):
    """A wildcard matching no table stays an empty answer, and mget
    keeps found: false per entry — only a CONCRETE missing name 404s."""
    _write_lake_table(service, "data_lake_here", [(1, "x")],
                      "id long, t string")
    r = client.post("/search/advanced", data=json.dumps(
        {"table": "data_lake_nomatch*", "query": {"match_all": {}}}),
        content_type="application/json")
    assert r.status_code == 200
    assert r.get_json()["hits"]["hits"] == []
    r = client.get("/cat/count?index=data_lake_nomatch*&format=json")
    assert r.status_code == 200 and r.get_json()[0]["count"] == "0"
    r = client.post("/search/mget", data=json.dumps(
        {"table": _MISSING, "ids": [1]}), content_type="application/json")
    assert r.status_code == 200
    assert r.get_json()["docs"] == [
        {"_index": _MISSING, "_id": "1", "found": False}]
    # a lake directory nothing was written to yet holds no table
    fresh = create_app(LakeService(
        service.spark, os.path.join(service.lake_dir, "fresh")))
    r = fresh.test_client().get("/cat/indices?format=json")
    assert r.status_code == 200 and r.get_json() == []


def test_msearch_template_resolves_stored_partials(client, service):
    """An _msearch/template slot renders exactly like _search/template:
    a ``{{>name}}`` partial resolves against the stored templates."""
    _write_lake_table(service, "data_lake_here", [(1, "x")],
                      "id long, t string")
    client.put("/scripts/all", data=json.dumps({"script": {
        "lang": "mustache", "source": '{"match_all": {}}'}}),
        content_type="application/json")
    nd = "\n".join(json.dumps(x) for x in [
        {"index": "data_lake_here"},
        {"source": '{"query": {{>all}} }', "params": {}},
    ]) + "\n"
    r = client.post("/search/msearch_template", data=nd,
                    content_type="application/x-ndjson")
    slot = r.get_json()["responses"][0]
    assert slot["status"] == 200, slot
    assert slot["hits"]["total"] == {"value": 1, "relation": "eq"}


def test_glob_name_is_no_table_for_a_single_table_route(client, service):
    """A route that rewrites ONE table never lets Spark expand a glob
    in its name into several tables: the name is no table (404), and
    every table it would have matched is left as it was."""
    for name in ("data_lake_g1", "data_lake_g2"):
        _write_lake_table(service, name, [(1, "x")], "id long, t string")
    r = client.post("/search/delete_by_query", data=json.dumps(
        {"table": "data_lake_g*", "query": {"match_all": {}}}),
        content_type="application/json")
    assert r.status_code == 404
    assert r.get_json()["error"] == "no such table 'data_lake_g*'"
    r = client.get("/cat/count?index=data_lake_g*&format=json")
    assert r.get_json()[0]["count"] == "2"


# -- size-0 aggs: the hit total and sum_other_doc_count ride the bucket job

_FUSED_ROWS = [
    # (grp, k, n, day, v)
    ("a", "x", 1, 1, 1.0), ("a", "x", 2, 1, 2.0), ("a", "y", 12, 3, 3.0),
    ("a", "z", 25, 3, 4.0), ("a", None, None, None, 5.0),
    ("a", None, 7, 4, 6.0),
    ("nulls", None, None, None, 1.0), ("nulls", None, None, None, 2.0),
    ("b", "x", 3, 2, 7.0),
]

#: scope name -> (query, grp value the scope keeps)
_FUSED_SCOPES = {
    "matches": ({"term": {"grp": "a"}}, "a"),
    "empty": ({"term": {"grp": "none"}}, "none"),
    "all_null_keys": ({"term": {"grp": "nulls"}}, "nulls"),
}

#: agg case -> (aggs body, the key column a terms case counts or None)
_FUSED_AGGS = {
    "terms": ({"t": {"terms": {"field": "k", "size": 1}}}, None),
    "terms_include_exclude": (
        {"t": {"terms": {"field": "k", "size": 1,
                         "include": ["x", "y"], "exclude": ["x"]}}},
        lambda k: k == "y"),
    "terms_missing": (
        {"t": {"terms": {"field": "k", "size": 1, "missing": "none"}}},
        lambda k: True),
    "date_histogram": (
        {"d": {"date_histogram": {"field": "ts",
                                  "calendar_interval": "day"}}}, None),
    "date_histogram_gap_fill": (
        {"d": {"date_histogram": {"field": "ts", "calendar_interval": "day",
                                  "min_doc_count": 0}}}, None),
    "histogram": ({"h": {"histogram": {"field": "n", "interval": 10}}}, None),
    "metric": ({"m": {"avg": {"field": "v"}}}, None),
}


def _fused_lake(spark, service):
    import datetime as dt

    rows = [(g, k, n, None if d is None else dt.datetime(2024, 1, d, 5), v)
            for g, k, n, d, v in _FUSED_ROWS]
    spark.createDataFrame(
        rows, "grp string, k string, n bigint, ts timestamp, v double",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_fused"))


@pytest.mark.parametrize("scope", sorted(_FUSED_SCOPES))
@pytest.mark.parametrize("case", sorted(_FUSED_AGGS))
def test_size0_aggs_totals_are_exact(client, service, spark, case, scope):
    """A size-0 request's hits.total and a terms agg's
    sum_other_doc_count come from observations on the bucket job;
    they must equal explicit counts over a scope with matches, an
    empty scope and a scope whose keys are all null."""
    _fused_lake(spark, service)
    aggs, term_pred = _FUSED_AGGS[case]
    query, grp = _FUSED_SCOPES[scope]
    r = client.post("/search/advanced", data=json.dumps({
        "table": "data_lake_fused", "size": 0, "query": query,
        "aggs": aggs}), content_type="application/json")
    assert r.status_code == 200, r.get_json()
    body = r.get_json()
    in_scope = [row for row in _FUSED_ROWS if row[0] == grp]
    assert body["hits"]["total"] == {"value": len(in_scope),
                                     "relation": "eq"}
    env = body["aggregations"][next(iter(aggs))]
    if "t" in aggs:
        keep = term_pred or (lambda k: k is not None)
        keys = [k if k is not None else aggs["t"]["terms"].get("missing")
                for _, k, *_ in in_scope]
        counted = sum(1 for k in keys if k is not None and keep(k))
        returned = sum(b["doc_count"] for b in env["buckets"])
        assert env["sum_other_doc_count"] == counted - returned
    if "buckets" in env:
        keys = [b["key"] for b in env["buckets"]]
        if "t" not in aggs:
            assert keys == sorted(keys)
            assert sum(b["doc_count"] for b in env["buckets"]) == sum(
                1 for row in in_scope
                if row[2 if "h" in aggs else 3] is not None)


@pytest.mark.parametrize("scope", sorted(_FUSED_SCOPES))
@pytest.mark.parametrize("case", sorted(_FUSED_AGGS))
def test_size0_scope_count_falls_back_when_unobserved(
        service, spark, case, scope):
    """Where AQE drops the observed stage (the grouped result is
    empty: an empty scope, or all keys null) the observation is None,
    never 0, and the caller counts; elsewhere it is the scope count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        observed,
        run_aggs,
    )

    _fused_lake(spark, service)
    aggs, _ = _FUSED_AGGS[case]
    grp = _FUSED_SCOPES[scope][1]
    df = service._read("data_lake_fused")
    obs = Observation()
    run_aggs(df.filter(F.col("grp") == grp), aggs, schema_fields=df.schema,
             scope_obs=obs)
    n = sum(1 for row in _FUSED_ROWS if row[0] == grp)
    seen = observed(obs)
    if case == "date_histogram_gap_fill" and scope != "matches":
        # the gap-fill join reads the grouped frame twice, and AQE may
        # keep one observed stage: an observation, when there is one,
        # is the exact count
        assert seen in (None, {"n": n})
        return
    # a global aggregate always yields its row, and a `missing` bucket
    # holds the null keys
    observable = (scope == "matches" or case == "metric"
                  or (case, scope) == ("terms_missing", "all_null_keys"))
    assert seen == ({"n": n} if observable else None)


def test_size0_total_stays_exact_off_the_fused_path(client, service, spark):
    """A post_filter, or a top-level agg outside the whole-scope kinds,
    keeps the count job: the totals stay exact."""
    from pyspark.sql import Observation

    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        observed,
        run_aggs,
    )

    _fused_lake(spark, service)

    def post(extra):
        r = client.post("/search/advanced", data=json.dumps({
            "table": "data_lake_fused", "size": 0,
            "query": {"term": {"grp": "a"}}, **extra}),
            content_type="application/json")
        assert r.status_code == 200, r.get_json()
        return r.get_json()

    got = post({"post_filter": {"term": {"k": "x"}},
                "aggs": {"t": {"terms": {"field": "k"}}}})
    assert got["hits"]["total"] == {"value": 2, "relation": "eq"}
    assert {b["key"]: b["doc_count"]
            for b in got["aggregations"]["t"]["buckets"]} \
        == {"x": 2, "y": 1, "z": 1}
    got = post({"aggs": {"r": {"rare_terms": {"field": "k"}}}})
    assert got["hits"]["total"] == {"value": 6, "relation": "eq"}
    got = post({"aggs": {"r": {"rare_terms": {"field": "k"}},
                         "m": {"avg": {"field": "v"}}}})
    assert got["hits"]["total"] == {"value": 6, "relation": "eq"}
    # run_aggs leaves the observation unattached for such a body
    obs = Observation()
    run_aggs(service._read("data_lake_fused"),
             {"r": {"rare_terms": {"field": "k"}}}, scope_obs=obs)
    assert observed(obs) is None


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, counted through the job group ``group``
    (a name not used before)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_size0_aggs_job_budget(client, service, spark):
    """Job budget of the two size-0 aggs request shapes the REST
    benchmark times, on a warm lake (plans cached, schemas known). A
    size-0 terms request is its bucket job alone (the hit total and
    sum_other_doc_count are observed on it); the date_histogram +
    percentiles + moving_percentiles request is the bucket job plus
    the moving-percentiles job: a shuffle-map job and a result job
    each, plus one that broadcasts the bucket ordinals. A change that
    adds a job fails here; one that removes a job re-pins the number."""
    import datetime as dt

    spark.createDataFrame(
        [(i % 25, float(i), ("BUILDING", "MACHINERY", "HOUSEHOLD")[i % 3])
         for i in range(300)],
        "nationkey bigint, acctbal double, mktsegment string",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_cust"))
    spark.createDataFrame(
        [(("click", "view")[i % 2],
          dt.datetime(2024, 1, 1) + dt.timedelta(hours=7 * i), float(i))
         for i in range(300)],
        "event_type string, ts timestamp, value double",
    ).write.parquet(os.path.join(service.lake_dir, "data_lake_ev"))
    terms = {
        "table": "data_lake_cust", "size": 0,
        "query": {"bool": {"must_not": [
            {"term": {"mktsegment": "BUILDING"}}]}},
        "aggs": {"by_nation": {
            "terms": {"field": "nationkey", "size": 10},
            "aggs": {"bal": {"avg": {"field": "acctbal"}},
                     "top": {"max": {"field": "acctbal"}}}}}}
    pipeline = {
        "table": "data_lake_ev", "size": 0,
        "query": {"term": {"event_type": "click"}},
        "aggs": {"daily": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"v": {"percentiles": {"field": "value",
                                           "percents": [50.0]}},
                     "mp": {"moving_percentiles": {
                         "buckets_path": "v", "window": 5}}}}}}

    def post(body):
        r = client.post("/search/advanced", data=json.dumps(body),
                        content_type="application/json")
        assert r.status_code == 200, r.get_json()
        return r.get_json()

    for body in (terms, pipeline):
        post(body)  # warm: the scan cache holds the plans
    got = {}
    assert _jobs_of(spark, "budget-terms",
                    lambda: got.update(terms=post(terms))) == 2
    assert _jobs_of(spark, "budget-pipeline",
                    lambda: got.update(pipe=post(pipeline))) == 5
    assert got["terms"]["hits"]["total"]["value"] == 200
    assert got["terms"]["aggregations"]["by_nation"][
        "sum_other_doc_count"] == 200 - sum(
            b["doc_count"]
            for b in got["terms"]["aggregations"]["by_nation"]["buckets"])
    assert got["pipe"]["hits"]["total"]["value"] == 150


def test_wildcard_over_uri_lake(spark, tmp_path):
    """A wildcard lists the lake through its Hadoop FileSystem, so a
    lake given as a ``file://`` URI finds its tables."""
    flask = pytest.importorskip("flask")  # noqa: F841
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, name string") \
        .write.parquet(str(tmp_path / "data_lake_uri"))
    (tmp_path / "not_a_table.txt").write_text("x")
    service = LakeService(spark, tmp_path.as_uri())
    assert service._tables("data_lake_*") == ["data_lake_uri"]
    assert LakeService(spark, (tmp_path / "absent").as_uri())._tables(
        "data_lake_*") == []
    app = create_app(service)
    app.testing = True
    r = app.test_client().post("/search/advanced", data=json.dumps({
        "table": "data_lake_*", "query": {"match_all": {}}, "size": 5,
        "sort": [{"id": "asc"}]}), content_type="application/json")
    assert r.status_code == 200, r.get_json()
    assert [h["_source"]["name"] for h in r.get_json()["hits"]["hits"]] \
        == ["a", "b"]
