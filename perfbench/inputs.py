"""Seeded input generation: source tables, upsert deltas, request bodies.

Everything the program under test receives is made here from one
``--seed``; the same seed always gives byte-identical inputs. The
source tables follow the lake's star schema (TESTDATA.md: TPC-H-ish
``region nation customer part orders lineitem`` plus ``events`` and
``documents``) so every layer the benchmark drives reads the column
names and types it reads in production.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Source sizes for ``lake_sync_search``.
#: Orders drive every other fact table: lineitem 4x, events 2/3x,
#: customers 1/10, parts 2/15 (the TESTDATA.md ratios).
LAKE_ORDERS = 2_500
LAKE_DOCUMENTS = 600
#: Documents for ``corpus_prep``: at this size the six members spend
#: more time running than being constructed.
CORPUS_DOCUMENTS = 1_000
#: Share of sync-source rows carrying a ``deletedAt`` soft-delete stamp.
SOFT_DELETE_SHARE = 0.02

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_WORDS = ("small", "red", "big", "blue", "steel", "ring", "widget", "bolt")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
EVENTS_START = datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400

TS = pa.timestamp("us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream): adding a stream
    never shifts the values of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _days(rng, n, start: datetime, span_days: int) -> pa.Array:
    d = rng.integers(0, span_days, n)
    base = np.datetime64(start, "us")
    return pa.array(base + d.astype("timedelta64[D]"), TS)


def _soft_delete(rng, n: int) -> pa.Array:
    hit = rng.random(n) < SOFT_DELETE_SHARE
    ts = np.datetime64(datetime(2025, 6, 1), "us") + rng.integers(
        0, 86400, n).astype("timedelta64[s]")
    return pa.array(ts, TS, mask=~hit)


def documents(seed: int, n: int, soft_delete: bool = False) -> pa.Table:
    """Whitespace-token documents over a 31-word vocabulary, with the
    duplicate structure the dedup members exist for: ~3% exact copies
    and ~8% near copies (a few tokens swapped plus a ``dup`` marker)."""
    rng = _rng(seed, "docs")
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.11:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(8, 96))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    cols = {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    if soft_delete:
        cols["deletedAt"] = _soft_delete(rng, n)
    return pa.table(cols)


def lake_sources(seed: int, n_orders: int = LAKE_ORDERS,
                 n_docs: int = LAKE_DOCUMENTS) -> dict[str, pa.Table]:
    """The SQL source tables a sync reads. ``customer``, ``orders``,
    ``events`` and ``documents`` carry a nullable ``deletedAt`` column
    (the reference's soft-delete convention the generic sync filters)."""
    rng = _rng(seed, "lake")
    n_cust, n_part = max(10, n_orders // 10), max(10, n_orders * 2 // 15)
    n_line, n_events = n_orders * 4, n_orders * 2 // 3
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999, 9999, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            "deletedAt": _soft_delete(rng, n_cust),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_WORDS[a]} {PART_WORDS[b]}"
                for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(money(900, 2000, n_part)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(rng.choice(("P", "O", "F"), n_orders)),
            "o_totalprice": pa.array(money(1000, 500000, n_orders)),
            "o_orderdate": _days(rng, n_orders, datetime(1995, 1, 1), 2404),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
            "deletedAt": _soft_delete(rng, n_orders),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 100000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_line)),
            "l_linestatus": pa.array(rng.choice(("O", "F"), n_line)),
            "l_shipdate": _days(rng, n_line, datetime(1995, 1, 2), 2498),
        }),
        "events": events(rng, 0, n_events),
        "documents": documents(seed, n_docs, soft_delete=True),
    }
    return out


def events(rng, first_id: int, n: int, soft_delete: bool = True,
           start: datetime = EVENTS_START) -> pa.Table:
    secs = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    cols = {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(np.datetime64(start, "us") + secs.astype("timedelta64[us]"), TS),
        "user_id": pa.array(rng.integers(0, 150, n)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.uniform(0.01, 490, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
    }
    if soft_delete:
        cols["deletedAt"] = pa.nulls(n, TS)
    return pa.table(cols)


def upsert_delta(seed: int, cycle: int, base_events: pa.Table,
                 changed: int, new: int) -> pa.Table:
    """One incremental batch for the events table: ``changed`` existing
    event ids re-emitted with a later ``ts`` (the version column) and new
    values, plus ``new`` fresh event ids past the base's maximum."""
    rng = _rng(seed, f"delta{cycle}")
    ids = base_events.column("event_id").to_numpy()
    pick = np.sort(rng.choice(len(ids), changed, replace=False))
    upd = base_events.take(pa.array(pick))
    later = upd.column("ts").to_numpy() + np.timedelta64(1, "D")
    upd = upd.set_column(upd.schema.get_field_index("ts"), "ts",
                         pa.array(later, TS))
    upd = upd.set_column(upd.schema.get_field_index("value"), "value",
                         pa.array(np.round(rng.uniform(500, 900, changed), 2)))
    fresh = events(rng, int(ids.max()) + 1, new,
                   start=EVENTS_START + timedelta(days=31))
    return pa.concat_tables([upd, fresh])


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write one ``<name>.parquet`` file per table; returns bytes each."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="zstd")
        sizes[name] = os.path.getsize(path)
    return sizes


# -- search request mix ------------------------------------------------------

REQUEST_CLASSES = ("search_all", "bool_page", "terms_aggs", "pipeline_aggs",
                   "match_highlight", "scored_page")
#: Hot bodies per request class. Every second request of a class repeats
#: one of them verbatim; the others carry fresh literals.
HOT_PER_CLASS = 1


def request_body(cls: str, rng: np.random.Generator) -> tuple[str, dict]:
    """(route, JSON body) of one request of class ``cls`` with seeded
    literals. Field names are the generic sync's ``<table>_<col>``."""
    word = VOCAB[int(rng.integers(0, len(VOCAB)))]
    if cls == "search_all":
        return "/search", {"query": word, "k": 10,
                           "tables": ["data_lake_documents", "data_lake_customer"]}
    if cls == "bool_page":
        status = str(rng.choice(("P", "O", "F")))
        lo = int(rng.integers(1000, 400_000))
        return "/search/advanced", {
            "table": "data_lake_orders", "size": 10,
            "query": {"bool": {"filter": [
                {"term": {"orders_o_orderstatus": status}},
                {"range": {"orders_o_totalprice": {"gte": lo}}}]}},
            "sort": [{"orders_o_totalprice": "asc"},
                     {"orders_o_orderkey": "asc"}],
            "search_after": [lo + int(rng.integers(0, 5000)), 0]}
    if cls == "terms_aggs":
        seg = str(rng.choice(SEGMENTS))
        return "/search/advanced", {
            "table": "data_lake_customer", "size": 0,
            "query": {"bool": {"must_not": [
                {"term": {"customer_c_mktsegment": seg}}]}},
            "aggs": {"by_nation": {
                "terms": {"field": "customer_c_nationkey",
                          "size": int(rng.integers(5, 15))},
                "aggs": {"bal": {"avg": {"field": "customer_c_acctbal"}},
                         "top": {"max": {"field": "customer_c_acctbal"}}}}}}
    if cls == "pipeline_aggs":
        etype = str(rng.choice(EVENT_TYPES))
        return "/search/advanced", {
            "table": "data_lake_events", "size": 0,
            "query": {"term": {"events_event_type": etype}},
            "aggs": {"daily": {
                "date_histogram": {"field": "events_ts",
                                   "calendar_interval": "day"},
                "aggs": {"v": {"percentiles": {"field": "events_value",
                                               "percents": [50.0]}},
                         "mp": {"moving_percentiles": {
                             "buckets_path": "v",
                             "window": int(rng.integers(3, 8))}}}}}}
    if cls == "match_highlight":
        return "/search/advanced", {
            "table": "data_lake_documents", "size": 5,
            "query": {"match": {"documents_text": word}},
            "sort": [{"documents_doc_id": "asc"}],
            "highlight": {"fields": {"documents_text": {}}}}
    if cls == "scored_page":
        return "/search/advanced", {
            "table": "data_lake_orders", "size": 10,
            "query": {"function_score": {
                "query": {"term": {"orders_o_orderpriority":
                                   str(rng.choice(PRIORITIES))}},
                "field_value_factor": {"field": "orders_o_totalprice",
                                       "factor": float(rng.integers(1, 40)) / 4,
                                       "modifier": "log1p"},
                "boost_mode": "replace"}}}
    raise ValueError(f"unknown request class {cls!r}")


def _hot_set(rng: np.random.Generator) -> dict[str, list[tuple[str, dict]]]:
    return {c: [request_body(c, rng) for _ in range(HOT_PER_CLASS)]
            for c in REQUEST_CLASSES}


def hot_bodies(seed: int) -> list[tuple[str, str, dict]]:
    """The hot set of ``request_mix(seed, ...)``: ``(class, route, body)``
    of every body its hot requests repeat, for the warm-up to send once."""
    hot = _hot_set(_rng(seed, "requests"))
    return [(c, route, body) for c in REQUEST_CLASSES for route, body in hot[c]]


def warmup_bodies(seed: int) -> list[tuple[str, str, dict]]:
    """What the warm-up sends: every body of the hot set, then one body
    with fresh literals per class (its own stream, so the timed mix does
    not repeat them more often than chance)."""
    rng = _rng(seed, "warmup")
    return hot_bodies(seed) + [(c, *request_body(c, rng))
                               for c in REQUEST_CLASSES]


def request_mix(seed: int, n: int) -> list[tuple[str, str, dict, bool]]:
    """``n`` requests ``(class, route, body, is_hot)``: classes in equal
    shares (round-robin over a seeded order), and within each class hot
    and fresh requests alternating from a seeded start, so that every
    even-length stretch of a class holds as many verbatim repeats from
    the small hot set of ``hot_bodies(seed)`` as requests with fresh
    literals."""
    rng = _rng(seed, "requests")
    hot = _hot_set(rng)
    order = list(REQUEST_CLASSES)
    parity = {c: int(rng.integers(0, 2)) for c in REQUEST_CLASSES}
    seen = dict.fromkeys(REQUEST_CLASSES, 0)
    out = []
    for i in range(n):
        if i % len(order) == 0:
            rng.shuffle(order)
        cls = order[i % len(order)]
        seen[cls] += 1
        if (seen[cls] + parity[cls]) % 2 == 0:
            route, body = hot[cls][int(rng.integers(0, HOT_PER_CLASS))]
            out.append((cls, route, json.loads(json.dumps(body)), True))
        else:
            route, body = request_body(cls, rng)
            out.append((cls, route, body, False))
    return out
