"""The shared scan cache (``sources.parquet.cached_scan``): lake-table
plans are reused while a table directory is unchanged, and every
write — through a service route or from outside the service — is seen
by the next read."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest

from sql_database_to_elastic_datalake_spark.api import (
    LakeService,
    create_app,
)
from sql_database_to_elastic_datalake_spark.schemas import ENTITY_SCHEMAS
from sql_database_to_elastic_datalake_spark.sources import parquet

T0 = dt.datetime(2024, 1, 1)


def _entity(spark, entity, rows):
    names = [f.name for f in ENTITY_SCHEMAS[entity].fields]
    return spark.createDataFrame(
        [tuple(r.get(n) for n in names) for r in rows],
        ENTITY_SCHEMAS[entity])


@pytest.fixture()
def entities(spark):
    return dict(
        Ticket=_entity(spark, "Ticket", [
            dict(id="t1", number=1, createdAt=T0, dataSourceId="d1",
                 moduleId="m1")]),
        TicketStatus=_entity(spark, "TicketStatus", [
            dict(id="ts1", ticketId="t1", statusId="s1", createdAt=T0)]),
        Status=_entity(spark, "Status", [
            dict(id="s1", name="Open", isFinalStatus=False, createdAt=T0)]),
        Module=_entity(spark, "Module", [
            dict(id="m1", name="M", type="X", createdAt=T0)]),
        DataSource=_entity(spark, "DataSource", [
            dict(id="d1", name="D", entityName="e", gatewayType="API",
                 moduleId="m1", statusId="s1", createdAt=T0)]),
        User=_entity(spark, "User", [
            dict(id=f"u{i}", name=f"N{i}", username=f"n{i}",
                 email=f"n{i}@x", password="p", createdAt=T0)
            for i in (1, 2)]),
        TicketLabel=_entity(spark, "TicketLabel", []),
        Label=_entity(spark, "Label", []),
    )


@pytest.fixture()
def service(spark, tmp_path):
    return LakeService(spark, str(tmp_path / "lake"))


@pytest.fixture()
def client(service, entities):
    pytest.importorskip("flask")
    app = create_app(service, entities)
    app.testing = True
    return app.test_client()


def _write(spark, service, name, ids):
    spark.createDataFrame(
        [(i, f"doc {i}", float(i)) for i in ids],
        "id long, title string, n double",
    ).write.mode("overwrite").parquet(os.path.join(service.lake_dir, name))


def _count(client, table, query=None):
    r = client.post("/search/advanced", json={
        "table": table, "query": query or {"match_all": {}}, "size": 0,
        "track_total_hits": True})
    assert r.status_code == 200, r.get_json()
    return r.get_json()["hits"]["total"]["value"]


def _entries(path):
    return [k for k in parquet._SCANS if k[1] == path]


def test_unchanged_table_reuses_its_plan(spark, service):
    _write(spark, service, "data_lake_a", [1, 2])
    first = service._read("data_lake_a")
    assert service._read("data_lake_a") is first
    assert first.count() == 2  # an action still reads the files


def test_every_mutating_route_is_seen_by_the_next_search(
        spark, service, client):
    lake = service.lake_dir

    def after(table, expect):
        # the route dropped its entry; the next search re-plans
        assert _entries(os.path.join(lake, table)) == []
        assert _count(client, table) == expect

    # ingest (append) onto a table the cache already holds
    assert client.post("/users/users", json={
        "email": "a@x", "name": "A", "username": "a"}).status_code == 201
    assert _count(client, "data_lake_user") == 1
    assert client.post("/users/users", json={
        "email": "b@x", "name": "B", "username": "b"}).status_code == 201
    after("data_lake_user", 2)

    # delete_by_query and update_by_query read the table, then rewrite it
    _write(spark, service, "data_lake_a", [1, 2, 3, 4])
    assert _count(client, "data_lake_a") == 4
    r = client.post("/search/delete_by_query", json={
        "index": "data_lake_a", "query": {"term": {"id": 1}}})
    assert r.get_json()["deleted"] == 1
    after("data_lake_a", 3)
    r = client.post("/search/update_by_query", json={
        "index": "data_lake_a", "query": {"term": {"id": 2}},
        "script": {"source": "ctx._source.n = 100"}})
    assert r.get_json()["updated"] == 1
    after("data_lake_a", 3)
    assert _count(client, "data_lake_a", {"term": {"n": 100}}) == 1

    # reindex: append into a new dest, then merge into the existing one
    _write(spark, service, "data_lake_b", [10])
    r = client.post("/search/reindex", json={
        "source": {"index": "data_lake_b"},
        "dest": {"index": "data_lake_c"}})
    assert r.get_json()["created"] == 1
    after("data_lake_c", 1)
    _write(spark, service, "data_lake_b", [10, 11])
    r = client.post("/search/reindex", json={
        "source": {"index": "data_lake_b"},
        "dest": {"index": "data_lake_c"}})
    assert (r.get_json()["created"], r.get_json()["updated"]) == (1, 1)
    after("data_lake_c", 2)

    # the point re-syncs merge into a table they read first
    for route, table in (("/tickets/sync", "data_lake_denormalized_ticket"),
                         ("/users/sync", "data_lake_denorm_user")):
        assert client.post(route, json={"id": "t1" if "ticket" in route
                                        else "u1"}).status_code == 200
        assert _count(client, table) == 1
        assert client.post(route, json={"id": "t1" if "ticket" in route
                                        else "u2"}).status_code == 200
        after(table, 1 if "ticket" in route else 2)


def test_overwrite_outside_the_service_is_seen(spark, service, client):
    _write(spark, service, "data_lake_a", [1, 2])
    assert _count(client, "data_lake_a") == 2
    _write(spark, service, "data_lake_a", [1, 2, 3])
    assert _count(client, "data_lake_a") == 3


def test_deleted_table_is_a_404_again(spark, service, client):
    _write(spark, service, "data_lake_a", [1])
    assert _count(client, "data_lake_a") == 1
    shutil.rmtree(os.path.join(service.lake_dir, "data_lake_a"))
    r = client.post("/search/advanced", json={
        "table": "data_lake_a", "query": {"match_all": {}}})
    assert r.status_code == 404
    assert "no such table 'data_lake_a'" in r.get_json()["error"]


def test_new_table_joins_a_wildcard_search(spark, service, client):
    _write(spark, service, "data_lake_a", [1])
    r = client.post("/search", json={"query": "doc"})
    assert {h["_index"] for h in r.get_json()["hits"]["hits"]} == \
        {"data_lake_a"}
    _write(spark, service, "data_lake_b", [2])
    r = client.post("/search", json={"query": "doc"})
    assert {h["_index"] for h in r.get_json()["hits"]["hits"]} == \
        {"data_lake_a", "data_lake_b"}


def test_load_table_reuses_until_rewritten(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(os.path.join(d, "t.parquet"))
    first = parquet.load_table(spark, d, "t")
    assert parquet.load_table(spark, d, "t") is first
    spark.range(5).write.mode("overwrite").parquet(
        os.path.join(d, "t.parquet"))
    again = parquet.load_table(spark, d, "t")
    assert again is not first and again.count() == 5


def test_load_tables_reads_a_uri_sf_dir(spark, sf_dir):
    """Existence is asked of the Hadoop FileSystem, so the test lake
    given as a ``file://`` URI loads the tables its plain path does."""
    from pathlib import Path

    names = ("region", "nation", "orders")
    uri = Path(sf_dir).as_uri()
    got = parquet.load_tables(spark, uri, names + ("no_such_table",))
    assert sorted(got) == sorted(names)
    for name in names:
        assert got[name].count() == \
            parquet.load_table(spark, sf_dir, name).count()


def test_one_entry_per_path(spark, service):
    path = os.path.join(service.lake_dir, "data_lake_a")
    for n in range(3):
        _write(spark, service, "data_lake_a", range(n + 1))
        service._read("data_lake_a")
        assert len(_entries(path)) == 1
    # another loader of the same path replaces the entry, not beside it
    parquet.cached_scan(spark, path, lambda s, p: s.read.parquet(p))
    assert len(_entries(path)) == 1
