"""The reference's REST surface, engine-native.

Replicates the *declared* API of the reference's Flask server
(/root/reference/server.py:24-46 and the six route files) as a thin
service over the Spark engine, plus an optional real Flask app factory.
Endpoints covered (SURVEY.md §2.1 S5/S6, §2.9 I1, §2.8 Q1/Q2/Q4):

  GET  /health                      → health()
  POST /<entity>/<entity>           → ingest() single   (S5)
  POST /<entity>/batch              → ingest() list     (S6, HTTP 207)
  POST /tickets/sync                → resync_ticket()   (I1)
  POST /<entity>/sync               → resync_entity()    (I2)
  POST /search                      → search()          (Q1)
  POST /search/advanced             → advanced_search() (Q2)
  POST /search/pit (+DELETE)        → open_pit()        (Q27, r10)
  POST /search/validate             → compile-only pre-flight (r10)

We replicate the declared surface, not the reference's wiring bugs
(several handlers there declare an ``es_client`` parameter Flask never
injects — /root/reference/src/routes/ticket_routes.py:99; SURVEY.md §3.3).

Scale note: a REST point-write through a Spark driver is a demo/dev
surface — the production ingest path is the streaming pipeline
(:mod:`.streaming.pipeline`); both funnel into the same validate-split
and merge operators, so semantics are identical.
"""

from __future__ import annotations

import hashlib
import os
import re
import uuid as _uuid
from decimal import Decimal as _Decimal
from dataclasses import dataclass
from datetime import date, datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.fs import path_exists
from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
    DslError,
    GeoResolutionError,
    NotFoundError,
    compile_dsl,
)
from sql_database_to_elastic_datalake_spark.plans.search import (
    multi_match_table,
    string_columns,
)
from sql_database_to_elastic_datalake_spark.sources.ingest import REQUIRED_FIELDS

#: Lake table name prefix (reference /root/reference/src/config.py:29).
INDEX_PREFIX = "data_lake_"

ENTITY_TYPES = ("ticket", "user", "data_source", "module", "status", "label")

#: Top-level query kinds that define their own rank order and route to
#: the scored page (:meth:`LakeService._scored_search`) when no
#: explicit ``sort`` overrides them. Inside a bool tree the same kinds
#: compile as membership only — this engine's filter context is
#: score-free (plans/score_dsl module docstring).
_SCORED_KINDS = ("function_score", "script_score", "rank_feature",
                 "distance_feature")

#: Text-relevance kinds that ALSO rank by their computed score when
#: nothing forces the membership page (r12 — ES's default ``_score``
#: order, with ``boost``/``^weight`` honored via
#: :func:`.plans.es_dsl.compile_score`). Unlike _SCORED_KINDS they
#: fall back to the membership page — not a 400 — when the request
#: carries collapse/search_after/highlight/runtime fields, so every
#: pre-r12 request shape keeps working. Only kinds whose score is
#: NON-CONSTANT are listed: ranking a constant-scored query
#: (term/range/constant_score/…) by tie-break order adds nothing over
#: the membership page.
_TEXT_SCORED_KINDS = ("multi_match", "query_string",
                      "simple_query_string", "match", "match_phrase",
                      "dis_max", "boosting")


def _has_feature_scorer(node) -> bool:
    """Does this query tree carry a ``rank_feature`` /
    ``distance_feature`` leaf in a SCORING position (bool must/should,
    dis_max queries, boosting positive)? Those leaves exist to decay-
    rank inside compounds — a bool containing one routes to the ranked
    page (r13 late); filter/must_not positions never score and don't
    count."""
    if not isinstance(node, dict) or len(node) != 1:
        return False
    kind, body = next(iter(node.items()))
    if kind in ("rank_feature", "distance_feature"):
        return True
    if kind == "bool" and isinstance(body, dict):
        return any(
            _has_feature_scorer(sub)
            for key in ("must", "should")
            for sub in (body.get(key) if isinstance(body.get(key), list)
                        else [body.get(key)] if body.get(key) else [])
        )
    if kind == "dis_max" and isinstance(body, dict):
        return any(_has_feature_scorer(q)
                   for q in (body.get("queries") or []))
    if kind == "boosting" and isinstance(body, dict):
        return _has_feature_scorer(body.get("positive"))
    return False


def _utcnow_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


#: Spark simpleString → ES field-caps type. Arrays of scalars
#: dissolve to the element type (ES mappings have no array kind);
#: float arrays are the embedding convention → dense_vector.
_ES_TYPE_MAP = {
    "bigint": "long", "int": "integer", "smallint": "short",
    "tinyint": "byte", "double": "double", "float": "float",
    "string": "keyword", "boolean": "boolean", "binary": "binary",
    "date": "date",
}


def _es_field_type(simple: str) -> str:
    if simple.startswith("timestamp"):
        return "date"
    if simple.startswith("decimal"):
        return "double"
    if simple in ("array<float>", "array<double>"):
        return "dense_vector"
    if simple.startswith("array<"):
        return _es_field_type(simple[6:-1])
    if simple.startswith(("struct<", "map<")):
        return "object"
    return _ES_TYPE_MAP.get(simple, "keyword")


def analyze_text(text, analyzer: str = "standard") -> dict:
    """ES ``_analyze`` — the analyzer debugging endpoint, replayed
    over the engine's ONE token pattern (es_dsl.TOKEN_CHARS — the same
    class every query/suggest/corpus consumer derives from, so what
    this endpoint shows is exactly what matching does). Offsets index
    the ORIGINAL text (token_spans); tokens are the lowercased forms
    the engine matches on. Only the engine's own analysis chain is
    implemented — any other ``analyzer`` name is a named 400, not a
    silently different tokenization."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        token_spans,
    )

    if analyzer not in ("standard", "default"):
        raise DslError(
            f"unsupported analyzer {analyzer!r} (the engine has one "
            "analysis chain: lowercase + alphanumeric tokens)")
    texts = text if isinstance(text, list) else [text]
    tokens = []
    pos = 0
    for t in texts:
        if not isinstance(t, str):
            raise DslError("analyze text must be a string or list "
                           "of strings")
        for tok, off, ln in token_spans(t):
            tokens.append({
                "token": tok,
                "start_offset": off,
                "end_offset": off + ln,
                "type": "<NUM>" if tok.isdigit() else "<ALPHANUM>",
                "position": pos,
            })
            pos += 1
        pos += 100  # ES's position_increment_gap between list values
    return {"tokens": tokens}


@dataclass
class ItemResult:
    index: int
    ok: bool
    id: str | None
    error: str | None


class LakeService:
    """Engine-backed implementation of the reference's API operations."""

    def __init__(self, spark: SparkSession, lake_dir: str):
        self.spark = spark
        self.lake_dir = lake_dir
        #: stored search templates (ES ``_scripts`` namespace, r11):
        #: id → validated {"lang": "mustache", "source": …}. Held
        #: in-service, like the PIT/scroll statelessness contract —
        #: nothing here needs to survive the process.
        self.stored_templates: dict[str, dict] = {}
        #: stored percolator queries (r13, r12 verdict stretch #10):
        #: id → parsed DSL tree, validated through compile_dsl at PUT
        #: time. Service-local like the templates namespace; the
        #: corpus-scale form is the registered percolate_orders query.
        self.percolator_queries: dict[str, dict] = {}

    # -- helpers ----------------------------------------------------------

    def _table_path(self, entity_type: str) -> str:
        return os.path.join(self.lake_dir, f"{INDEX_PREFIX}{entity_type.lower()}")

    def _validate_and_default(
        self, entity_type: str, item: dict[str, Any], index: int
    ) -> tuple[dict[str, Any] | None, ItemResult]:
        """Per-item required-field check + id/timestamp defaulting
        (reference /root/reference/src/utils.py:82-111). Driver-side on a
        single dict — the batch path below is the DataFrame equivalent."""
        required = REQUIRED_FIELDS.get(entity_type, REQUIRED_FIELDS["default"])
        for f in required:
            if item.get(f) in (None, ""):
                return None, ItemResult(index, False, None, f"missing required field: {f}")
        out = dict(item)
        out.setdefault("id", str(_uuid.uuid4()))
        now = datetime.now(timezone.utc).isoformat()
        out.setdefault("createdAt", now)
        out.setdefault("updatedAt", now)
        return out, ItemResult(index, True, str(out["id"]), None)

    # -- API operations ---------------------------------------------------

    def health(self) -> dict[str, Any]:
        return {
            "status": "healthy",
            "spark": self.spark.version,
            "lake_dir": self.lake_dir,
        }

    def ingest(
        self, entity_type: str, payload: dict | list[dict]
    ) -> dict[str, Any]:
        """Single or batch ingest with per-item accounting.

        Returns {status_code, results[], success_count, error_count} —
        200 all-ok, 207 partial, 400 all-failed (the reference's batch
        contract, /root/reference/src/routes/ticket_routes.py:139-210).
        """
        if entity_type not in ENTITY_TYPES:
            return {"status_code": 404, "error": f"unknown entity {entity_type}"}
        single = not isinstance(payload, list)
        items = [payload] if single else payload
        accepted: list[dict[str, Any]] = []
        results: list[ItemResult] = []
        for i, item in enumerate(items):
            fixed, res = self._validate_and_default(entity_type, item, i)
            results.append(res)
            if fixed is not None:
                accepted.append(fixed)
        if accepted:
            # JSON-ish dicts → one append write; schema unified as strings
            # for arbitrary payload keys (dynamic-mapping parity).
            rows = [
                {k: (None if v is None else str(v)) for k, v in it.items()}
                for it in accepted
            ]
            cols = sorted({k for r in rows for k in r})
            normalized = [tuple(r.get(c) for c in cols) for r in rows]
            from sql_database_to_elastic_datalake_spark.localrel import (
                local_frame,
            )

            df = local_frame(
                self.spark, normalized,
                ", ".join(f"`{c}` string" for c in cols)
            )
            df.write.mode("append").parquet(self._table_path(entity_type))
        ok = sum(1 for r in results if r.ok)
        err = len(results) - ok
        status = 200 if err == 0 else (207 if ok else 400)
        if single and ok == 1:
            status = 201  # the reference's created code for point ingest
        # Envelope is a SUPERSET of the reference's batch response
        # (label_routes.py:156-161: status/successful/failed, per-item
        # status + <entity>_id [+error]) so clients reading either
        # shape work. One documented divergence: an ALL-failed batch is
        # 400 here where the reference's formula still says 207.
        out_results = []
        for r in results:
            d = dict(r.__dict__)
            d["status"] = "success" if r.ok else "error"
            # failed items echo whatever id the client sent: "id"
            # first (the engine's key), then the reference's
            # entity-specific key (label_routes.py reads
            # label_data.get("label_id")) — "unknown" only when the
            # item carries neither
            d[f"{entity_type}_id"] = r.id if r.ok else (
                items[r.index].get(
                    "id", items[r.index].get(f"{entity_type}_id", "unknown")
                )
                if isinstance(items[r.index], dict) else "unknown"
            )
            out_results.append(d)
        out_envelope_status = (
            "success" if (single and ok == 1) or not results
            else "completed"
        )
        return {
            "status_code": status,
            # the reference says "success" for a created point ingest
            # (201) and an empty batch, "completed" for real batches
            "status": out_envelope_status,
            "count": len(results),
            **({f"{entity_type}_id": results[0].id}
               if single and ok == 1 else {}),
            "successful": ok,
            "failed": err,
            "success_count": ok,
            "error_count": err,
            "results": out_results,
        }

    def resync_ticket(
        self, entities: dict[str, DataFrame], ticket_id: str, indexed_at: str
    ) -> dict[str, Any]:
        """Point re-sync (I1): recompute one denormalized ticket document
        and MERGE it into the lake keyed by ticket_id."""
        from sql_database_to_elastic_datalake_spark.sinks.upsert import (
            merge_latest_wins,
        )
        from sql_database_to_elastic_datalake_spark.sync import denormalize_tickets

        doc = denormalize_tickets(
            entities["Ticket"], entities["TicketStatus"], entities["Status"],
            entities["Module"], entities["DataSource"], entities["User"],
            entities["TicketLabel"], entities["Label"],
            indexed_at, ticket_id=ticket_id,
        )
        path = self._table_path("denormalized_ticket")
        # existence check, not try/except-everything: a transient read
        # failure on an EXISTING table must raise, not silently rebuild
        # the lake table from this one document. Hadoop-FS existence so
        # hdfs://s3a:// lake dirs don't always look absent (fs.py).
        if path_exists(self.spark, path):
            base = self.spark.read.parquet(path)
            merged = merge_latest_wins(
                base, doc, keys=["ticket_id"], version_col="indexed_at"
            )
            merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
        else:
            doc.write.mode("overwrite").parquet(path)
        n = doc.count()
        # superset of the reference's sync response
        # (ticket_routes.py:240-245: status/ticket_id/message)
        if not n:
            return {"status_code": 404, "synced": 0, "ticket_id": ticket_id,
                    "error": f"Ticket {ticket_id} not found"}
        return {"status_code": 200, "synced": n, "ticket_id": ticket_id,
                "status": "success",
                "message": "Ticket successfully synced to data lake"}

    def delete_by_query(self, table: str, dsl: dict) -> dict[str, Any]:
        """ES ``_delete_by_query``: remove every document the query
        matches and report the count — the bulk-delete twin of the
        verbatim-DSL search route (the reference's ES cluster serves
        this natively on the same index the sync writes,
        /root/reference/src/es_connector.py:21-49).

        Lake semantics: one predicate compile, one count of the
        matched set, one survivor rewrite under the point-re-sync
        convention (localCheckpoint pins the survivors before the
        overwrite — api.resync_ticket). Rows where the predicate is
        NULL (two-valued doc-missing semantics) are NOT matches and
        survive, exactly like the search route's hit set. SCALE NOTE:
        this rewrites the whole table like ES rewrites every matched
        segment; at lake scale the right pattern is a partition-scoped
        rewrite or a read-side tombstone anti-join
        (registry_pipeline.gdpr_delete_sync) — this route is the
        API-parity form. ``version_conflicts``/``noops`` are
        structurally 0 on a snapshot lake (no concurrent versioning
        inside one rewrite)."""
        import time as _time

        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            compile_dsl,
        )

        t0 = _time.monotonic()
        path = os.path.join(self.lake_dir, table)
        if not path_exists(self.spark, path):
            raise DslError(f"unknown table {table!r}")
        df = self.spark.read.parquet(path)

        def resolve(field: str, _df=df):
            return (F.col(field) if field in _df.columns
                    else F.lit(None).cast("string"))

        pred = compile_dsl(dsl, field_resolver=resolve,
                           schema_fields=df.schema)
        matched = F.coalesce(pred, F.lit(False))
        deleted = int(df.filter(matched).count())
        if deleted:
            survivors = df.filter(~matched)
            survivors.localCheckpoint(eager=True).write.mode(
                "overwrite").parquet(path)
        return {
            "took": int((_time.monotonic() - t0) * 1000),
            "timed_out": False, "total": deleted, "deleted": deleted,
            "batches": 1 if deleted else 0, "version_conflicts": 0,
            "noops": 0, "retries": {"bulk": 0, "search": 0},
            "throttled_millis": 0, "requests_per_second": -1.0,
            "throttled_until_millis": 0, "failures": [],
        }

    def update_by_query(
        self, table: str, dsl: dict | None, script: dict | None
    ) -> dict[str, Any]:
        """ES ``_update_by_query``: apply a painless update script to
        every matching document. The script grammar is the assignment
        subset painless updates actually use — ``;``-separated
        statements of ``ctx._source.<field> <op>= <expr>`` (``=``,
        ``+=``, ``-=``, ``*=``, ``/=``), the right-hand side being the
        SAME params/doc/Math arithmetic the ``script_score`` compiler
        serves (``ctx._source.<f>`` references resolve to columns).
        Statements execute in order: a later statement sees earlier
        assignments, while the MATCHED SET is pinned before any
        assignment (a script that rewrites a queried column cannot
        change who matches mid-flight). Anything beyond the subset —
        ``ctx.op`` deletes, conditionals, method calls — is a named
        400, never a silent drop.

        Without a ``query`` the scope is ``match_all`` (ES's default).
        Assigned values cast back to the column's existing type (a
        lake table's schema is the contract ES's dynamic mapping does
        not have — documented divergence); assigning a NEW field
        appends a double column. Rewrite + bookkeeping mirror
        :meth:`delete_by_query`."""
        import time as _time

        t0 = _time.monotonic()
        if not isinstance(script, dict):
            raise DslError("update_by_query requires a script object")
        if not isinstance(script.get("source"), str):
            raise DslError("script requires a source string")
        path = os.path.join(self.lake_dir, table)
        if not path_exists(self.spark, path):
            raise DslError(f"unknown table {table!r}")
        df = self.spark.read.parquet(path)

        def resolve(field: str):
            return (F.col(field) if field in df.columns
                    else F.lit(None).cast("string"))

        pred = (F.lit(True) if dsl is None else
                F.coalesce(compile_dsl(dsl, field_resolver=resolve,
                                       schema_fields=df.schema),
                           F.lit(False)))
        out = df.withColumn("__match", pred)
        updated = int(out.filter(F.col("__match")).count())
        out = _apply_update_script(out, script)
        if updated:
            out.drop("__match").localCheckpoint(eager=True).write.mode(
                "overwrite").parquet(path)
        return {
            "took": int((_time.monotonic() - t0) * 1000),
            "timed_out": False, "total": updated, "updated": updated,
            "deleted": 0, "batches": 1 if updated else 0,
            "version_conflicts": 0, "noops": 0,
            "retries": {"bulk": 0, "search": 0},
            "throttled_millis": 0, "requests_per_second": -1.0,
            "throttled_until_millis": 0, "failures": [],
        }

    def reindex(self, body: dict) -> dict[str, Any]:
        """ES ``_reindex``: copy the (optionally query-scoped) source
        table into the destination, optionally transforming each doc
        with the same painless ASSIGNMENT subset ``_update_by_query``
        serves. Source and dest resolve in the lake; a missing dest is
        created. An EXISTING dest merges by the engine's doc-id
        convention (r12 — the "id" column, else the first ``*_id``
        column): incoming rows overwrite same-id dest rows exactly
        like ES's default ``op_type: index`` (the response's
        ``updated`` counts the overwrites, ``created`` the rest); a
        table with NO id column keeps the append behavior
        (history-mode — ES has nothing to merge on either without
        ``_id``). ``op_type``/``version_type``/``remote`` are
        id/cluster semantics with nothing further to bind to — named
        400s, not silent drops."""
        import time as _time

        t0 = _time.monotonic()
        src_spec = body.get("source")
        dst_spec = body.get("dest")
        if not isinstance(src_spec, dict) or not src_spec.get("index"):
            raise DslError("reindex requires source.index")
        if not isinstance(dst_spec, dict) or not dst_spec.get("index"):
            raise DslError("reindex requires dest.index")
        bad = sorted(set(src_spec) - {"index", "query"})
        if bad:
            raise DslError(f"unsupported reindex source keys: {bad}")
        bad = sorted(set(dst_spec) - {"index"})
        if bad:
            raise DslError(f"unsupported reindex dest keys: {bad}")
        src_path = os.path.join(self.lake_dir, str(src_spec["index"]))
        dst_path = os.path.join(self.lake_dir, str(dst_spec["index"]))
        if src_path == dst_path:
            raise DslError("reindex source and dest must differ")
        if not path_exists(self.spark, src_path):
            raise DslError(f"unknown table {src_spec['index']!r}")
        df = self.spark.read.parquet(src_path)
        q = src_spec.get("query")
        if q is not None:
            def resolve(field: str, _df=df):
                return (F.col(field) if field in _df.columns
                        else F.lit(None).cast("string"))
            df = df.filter(F.coalesce(
                compile_dsl(q, field_resolver=resolve,
                            schema_fields=df.schema), F.lit(False)))
        script = body.get("script")
        if script is not None:
            if not isinstance(script, dict):
                raise DslError("reindex script must be an object")
            df = _apply_update_script(
                df.withColumn("__match", F.lit(True)), script
            ).drop("__match")
        total = int(df.count())
        created, updated = total, 0
        if total and path_exists(self.spark, dst_path):
            dest = self.spark.read.parquet(dst_path)
            # appending a different shape would silently mix schemas
            # in one directory — refuse by name instead
            have = {f.name: f.dataType.simpleString()
                    for f in dest.schema.fields}
            want = {f.name: f.dataType.simpleString()
                    for f in df.schema.fields}
            if have != want:
                # names AND types must match: same-named columns with
                # different types would append mixed-type parquet
                # files into one directory and fail on later reads
                retyped = sorted(
                    f"{n} (dest {have[n]} vs source {want[n]})"
                    for n in set(have) & set(want)
                    if have[n] != want[n])
                raise DslError(
                    "reindex dest schema mismatch: dest has "
                    f"{sorted(set(have) - set(want))} extra / missing "
                    f"{sorted(set(want) - set(have))} / retyped "
                    f"{retyped} — reindex appends, it does not "
                    "migrate schemas")
            id_col = "id" if "id" in dest.columns else next(
                (c for c in dest.columns if c.endswith("_id")), None)
            if id_col is not None:
                # ES op_type index: same-_id docs are OVERWRITTEN.
                # Counts are INCOMING-side (r12 ADVICE: counting dest
                # rows let a dup-id dest drive updated > total and a
                # negative created): updated = incoming ids that exist
                # in dest, created = the rest. Duplicate ids INSIDE
                # the incoming set are a named 400 — ES's last-wins
                # depends on scroll order, and a parquet scan has no
                # row order to define "last"; a silent arbitrary
                # winner would be nondeterministic across runs.
                incoming_ids = df.select(
                    F.col(id_col).alias("__rid")).distinct()
                n_ids = int(incoming_ids.count())
                if n_ids != total:
                    raise DslError(
                        f"reindex source has {total - n_ids} rows "
                        f"with duplicate {id_col!r} values — parquet "
                        "sources have no scroll order to define ES's "
                        "last-wins overwrite; deduplicate the source "
                        "(or narrow it with source.query) first")
                dest_ids = dest.select(
                    F.col(id_col).alias("__rid")).distinct()
                updated = int(incoming_ids.join(
                    dest_ids, "__rid", "left_semi").count())
                created = total - updated
                keep = dest.join(
                    incoming_ids,
                    dest[id_col] == incoming_ids["__rid"],
                    "left_anti")
                merged = keep.unionByName(df)
                # materialize (executor-side) BEFORE overwriting the
                # directory the plan still reads from — the same
                # localCheckpoint-then-overwrite shape the upsert
                # route uses
                merged.localCheckpoint(eager=True).write.mode(
                    "overwrite").option(
                    "compression", "zstd").parquet(dst_path)
                return {
                    "took": int((_time.monotonic() - t0) * 1000),
                    "timed_out": False, "total": total,
                    "created": created, "updated": updated,
                    "deleted": 0, "batches": 1,
                    "version_conflicts": 0, "noops": 0,
                    "retries": {"bulk": 0, "search": 0},
                    "throttled_millis": 0, "requests_per_second": -1.0,
                    "throttled_until_millis": 0, "failures": [],
                }
        if total:
            df.write.mode("append").option(
                "compression", "zstd").parquet(dst_path)
        return {
            "took": int((_time.monotonic() - t0) * 1000),
            "timed_out": False, "total": total, "created": created,
            "updated": updated, "deleted": 0,
            "batches": 1 if total else 0,
            "version_conflicts": 0, "noops": 0,
            "retries": {"bulk": 0, "search": 0},
            "throttled_millis": 0, "requests_per_second": -1.0,
            "throttled_until_millis": 0, "failures": [],
        }

    def sql_query(self, query: str) -> tuple[list[dict], list[list]]:
        """The ``_sql`` endpoint's engine half: run a READ-ONLY SQL
        statement over the lake tables (each lake directory is a temp
        view under its own name) and return (columns, rows) in ES
        SQL's wire vocabulary.

        DOCUMENTED DIVERGENCE: the dialect is Spark SQL, not ES SQL —
        the relational core (SELECT/WHERE/GROUP BY/HAVING/ORDER
        BY/LIMIT/JOIN/WITH) coincides, ES-SQL-specific scalar
        functions (DATE_PARSE, MATCH, QUERY) do not exist here and
        Spark's do. The statement gates through the PARSED logical
        plan (no commands, no writes — see _assert_read_only_sql);
        results are budget-bounded (named 400 past {budget} rows: the
        SQL wire format is a page protocol, an unbounded SELECT
        belongs on the lake, not an HTTP response)."""
        _assert_read_only_sql(self.spark, query)
        for name in sorted(os.listdir(self.lake_dir)):
            p = os.path.join(self.lake_dir, name)
            if os.path.isdir(p):
                self.spark.read.parquet(p).createOrReplaceTempView(name)
        df = self.spark.sql(query)
        cols = [
            {"name": f.name,
             "type": _ES_SQL_TYPES.get(f.dataType.simpleString(),
                                       f.dataType.simpleString())}
            for f in df.schema.fields
        ]
        collected = df.limit(_SQL_ROW_BUDGET + 1).collect()
        if len(collected) > _SQL_ROW_BUDGET:
            raise DslError(
                f"SQL result exceeds {_SQL_ROW_BUDGET} rows — add a "
                "LIMIT or aggregate; the SQL wire format is a page "
                "protocol, not a bulk export")

        def cell(v):
            if isinstance(v, _Decimal):
                return float(v)
            if isinstance(v, (bytes, bytearray)):
                import base64 as _b64

                return _b64.b64encode(bytes(v)).decode()
            return v

        return cols, [[cell(v) for v in r] for r in collected]

    def search(
        self, term: str, tables: list[str] | None = None, k: int = 10,
        fields: list[str] | None = None, from_: int = 0,
        min_score=None, rescore: dict | None = None,
    ) -> dict[str, Any]:
        """multi_match across all lake tables (the ``data_lake_*``
        pattern) with the deterministic tf score; ES-style envelope.

        ``from_`` is ES's offset pagination on the RANKED path (r7 —
        ES's default sort is ``_score``, so a client paginating ranked
        results sends ``{"query": …, "from": 10}`` with no explicit
        sort; rejecting it was the r6 verdict's #2 gap). The ranking
        already totals the order (``_score`` desc, ``_index``,
        ``_tiebreak``), so the offset rides the SAME
        TakeOrderedAndProject — ``orderBy.offset(from).limit(k)``
        pre-truncates each partition to its top ``from+k`` rows
        map-side; the documented linear deep-offset cost applies
        exactly as on the sorted advanced path.

        ``fields`` mirrors the reference's request shape
        (src/search_api.py:19-28: ``fields`` defaulting to ``["*"]``):
        names and wildcard patterns are expanded per table against its
        own schema; ``["*"]``/omitted means every string column. A
        table where nothing expands contributes no hits — ES's
        missing-field behavior.

        Heterogeneous table schemas are normalized to a common shape
        (index, score, tiebreak, JSON-serialized source row), unioned,
        and reduced with ONE global top-k — per-table schemas only exist
        plan-side. Cluster cost is one job total regardless of table
        count (the exact total is observed on the sort input), instead
        of two driver-side jobs per table, which is what the
        ``data_lake_*`` pattern needs at hundreds of tables.

        ``min_score`` (r7): ES's relevance floor — hits scoring below
        it drop from BOTH the page and the total (ES's contract). One
        extra Column filter ahead of the sort; with the engine's
        deterministic tf score a threshold is reproducible where ES's
        BM25 floor is shard-dependent.

        ``rescore`` (r7): ES's two-phase ranking — the top
        ``window_size`` docs by original score re-rank by a combined
        score (``query_weight``·orig ∘ ``rescore_query_weight``·resc,
        ``score_mode`` total/multiply/avg/max/min); docs beyond the
        window keep their original order after the window. The
        secondary score is a tf column computed IN-PLAN per table (no
        second pass over the corpus — it rides the same scan); the
        re-sort touches only the collected window. ``rescore_query``
        supports the scoreable leaves (``multi_match`` / ``match``) —
        anything else is a named 400 (this engine has no scores for
        filter-context trees).
        """
        import fnmatch as _fn
        import json as _json

        if from_ < 0:
            raise DslError("from must be a non-negative integer")
        _validate_rescore_options(rescore)
        names = tables or [
            d for d in sorted(os.listdir(self.lake_dir))
            if d.startswith(INDEX_PREFIX)
        ]
        if fields == ["*"]:
            fields = None  # the reference's default-everything shape
        scored: list[DataFrame] = []
        for name in names:
            df = self.spark.read.parquet(os.path.join(self.lake_dir, name))
            cols = None
            if fields is not None:
                from sql_database_to_elastic_datalake_spark.plans.es_dsl \
                    import split_field_boost

                # r12: ^boost suffixes are KEPT — each expanded column
                # re-carries its pattern's weight into the tf score
                # (the ES title^2 idiom; previously ignored)
                seen: dict[str, float] = {}
                for f in fields:
                    nm, w = split_field_boost(f, "search field")
                    if "*" in nm or "?" in nm:
                        for c in df.columns:
                            if _fn.fnmatchcase(c, nm):
                                seen.setdefault(c, w)
                    elif nm in df.columns:
                        seen.setdefault(nm, w)
                cols = [c if w == 1.0 else f"{c}^{w}"
                        for c, w in seen.items()]
                if not cols:
                    continue  # no requested field exists in this table
            matched = multi_match_table(df, term, fields=cols)
            if "score" not in matched.columns:
                continue  # no string columns → nothing can match
            if min_score is not None:
                matched = matched.filter(
                    F.col("score") >= float(min_score))
            tb = string_columns(df)[:1]
            scored.append(
                matched.select(
                    F.lit(name).alias("_index"),
                    F.col("score").cast("double").alias("_score"),
                    _rescore_expr(rescore, df).alias("_rescore"),
                    _rescore_match_expr(rescore, df).alias(
                        "_rescore_matched"),
                    (F.col(tb[0]) if tb else F.lit("")).alias("_tiebreak"),
                    F.to_json(
                        F.struct(*[F.col(c) for c in df.columns]),
                        {"ignoreNullFields": "false"},
                    ).alias("_source_json"),
                )
            )
        if not scored:
            return {"hits": {"total": {"value": 0, "relation": "eq"},
                             "hits": []}}
        unioned = scored[0]
        for s in scored[1:]:
            unioned = unioned.unionByName(s)
        if k == 0:
            # ES's size:0 is a valid total-only (or aggs-only) request;
            # limit(0) would let OptimizeLimitZero prune the
            # CollectMetrics node out of the plan and Observation.get
            # then assert-fails — a plain count IS the whole job here.
            return {"hits": {"total": {"value": unioned.count(),
                                       "relation": "eq"},
                             "hits": []}}
        # ONE job per request, not two: the ranking sort (TakeOrdered)
        # consumes every matched row anyway, so an Observation on the
        # pre-sort plan yields the exact hit total for free — the
        # separate count() job this used to run doubled the request
        # cost for nothing (r4 verdict nit).
        from pyspark.sql import Observation

        obs = Observation("search_total")
        unioned = unioned.observe(obs, F.count(F.lit(1)).alias("n"))
        ranked = unioned.orderBy(
            F.col("_score").desc(), "_index", "_tiebreak")
        if rescore is not None:
            # two-phase: fetch max(window, from+k) rows through the
            # SAME TakeOrdered, combine scores driver-side on the
            # window only, then slice the page (the offset must apply
            # AFTER the window re-sort — the order changed inside it)
            window = int(rescore.get("window_size", 10))
            rows = ranked.limit(max(window, from_ + k)).collect()
            paged = _rescore_window(rows, rescore, window) \
                + [(r["_score"], r) for r in rows[window:]]
            top = paged[from_:from_ + k]
            hits = [
                {"_index": r["_index"], "_score": c,
                 "_source": _json.loads(r["_source_json"])}
                for c, r in top
            ]
        else:
            paged_ranked = ranked.offset(from_) if from_ else ranked
            top = paged_ranked.limit(k).collect()
            hits = [
                {"_index": r["_index"], "_score": r["_score"],
                 "_source": _json.loads(r["_source_json"])}
                for r in top
            ]
        return {"hits": {"total": {"value": obs.get["n"], "relation": "eq"},
                         "hits": hits}}


    def _knn_search(
        self, name: str, knn: dict, dsl: dict | None, k: int,
        from_: int, source, fields_opt,
    ) -> dict[str, Any]:
        """The knn body key over one table, the standard _source /
        fields / from paging applied to the returned rows.

        Two tiers (r13, r12 verdict #3): WITHOUT ``num_candidates``
        the search is exact cosine top-k — one full scan, strictly
        better recall than ES's HNSW, the honest default and the
        verifier. WITH ``num_candidates`` (ES's recall/cost knob) the
        IVF-probed tier runs instead
        (operators/ivf.py:ivf_knn_literal): nprobe cells are chosen so
        the expected candidate pool ≈ num_candidates (nprobe =
        ceil(num_candidates · nlist / n), clamped to [1, nlist]) — the
        same contract ES gives the knob: more candidates, better
        recall, more work; num_candidates ≥ n degrades gracefully to
        probing every cell (= exact). The fixed-grid quantizer keeps
        both tiers deterministic and oracle-replayable."""
        from sql_database_to_elastic_datalake_spark.operators.ivf import (
            ivf_knn_literal,
        )
        from sql_database_to_elastic_datalake_spark.operators.similarity import (
            knn_search,
        )
        from sql_database_to_elastic_datalake_spark.plans.search import (
            resolve_source_columns,
        )

        unknown = sorted(set(knn) - {"field", "query_vector", "k",
                                     "num_candidates", "filter",
                                     "similarity", "boost"})
        if unknown:
            raise DslError(f"unsupported knn options: {unknown}")
        field = knn.get("field")
        qv = knn.get("query_vector")
        if not field or not isinstance(qv, list) or not qv:
            raise DslError("knn requires field and query_vector")
        kk = int(knn.get("k", k))
        df = self.spark.read.parquet(os.path.join(self.lake_dir, name))
        if field not in df.columns:
            raise DslError(f"unknown knn field {field!r}")

        def resolve(f: str, _df=df):
            return (F.col(f) if f in _df.columns
                    else F.lit(None).cast("string"))

        pred = None
        if knn.get("filter") is not None:
            pred = compile_dsl(knn["filter"], field_resolver=resolve,
                               schema_fields=df.schema)
        if dsl is not None and dsl != {"match_all": {}}:
            qpred = compile_dsl(dsl, field_resolver=resolve,
                                schema_fields=df.schema)
            pred = qpred if pred is None else (pred & qpred)
        # ES returns at most knn.k hits when knn is the only query —
        # fetch exactly kk candidates so both the page and the total
        # honor it; a knn.k smaller than size must NOT backfill the
        # page with docs beyond the k nearest (r7 ADVICE)
        nc = knn.get("num_candidates")
        if nc is not None:
            if isinstance(nc, bool) or not isinstance(nc, int) or nc < 1:
                raise DslError(
                    "knn num_candidates must be a positive integer")
            if nc < kk:
                raise DslError("knn num_candidates must be >= k")
            nlist = 16
            n = df.count()  # parquet metadata count — no data read
            import math as _math

            nprobe = max(1, min(nlist,
                                _math.ceil(nc * nlist / max(n, 1))))
            rows = ivf_knn_literal(
                df, field, qv, kk, nlist=nlist, nprobe=nprobe,
                pred=pred).collect()
        else:
            rows = knn_search(df, field, qv, kk, pred=pred).collect()
        if knn.get("similarity") is not None:
            # ES's raw-similarity floor, applied on the cosine (our
            # _score is (1+cos)/2 — invert the transform)
            floor = float(knn["similarity"])
            rows = [r for r in rows
                    if (2.0 * r["_score"] - 1.0) >= floor]
        src_cols = resolve_source_columns(df.columns, source)
        fout = _resolve_fields_option(fields_opt, df.columns)
        hits = [
            {**_hit(name, r, src_cols, [], {}, "", "",
                    fields_out=fout),
             "_score": r["_score"]}
            for r in rows[from_:from_ + k]
        ]
        return {"hits": {
            "total": {"value": len(rows), "relation": "eq"},
            "hits": hits,
        }}

    def _percolate_search(self, body, k: int, from_: int,
                          ) -> dict[str, Any]:
        """The ``percolate`` query (r13): which STORED queries match
        the request's document(s). Hits are the stored queries (_id =
        the stored id, _source carries the query), constant-scored —
        ES's percolator scores are query-relevance over the one doc,
        which collapses to membership under this engine's scoring
        model. ``documents`` (the batch form) annotates each hit with
        ES's ``_percolator_document_slot`` fields entry. One
        compile-all-queries pass per document
        (plans/percolate.py:percolate_document); the corpus-scale
        form — a whole table against the stored set in one scan — is
        the registered ``percolate_orders`` query."""
        from sql_database_to_elastic_datalake_spark.plans.percolate import (
            percolate_document,
        )

        if not isinstance(body, dict):
            raise DslError("percolate must be an object")
        unknown = sorted(set(body) - {"field", "document", "documents",
                                      "name", "index", "id"})
        if unknown:
            # routing/preference/version stay named 400s: the lake
            # has no routing shards or doc versions to honor
            raise DslError(f"unsupported percolate options: {unknown}")
        has_doc = body.get("document") is not None
        has_docs = body.get("documents") is not None
        has_ref = body.get("index") is not None or \
            body.get("id") is not None
        if sum((has_doc, has_docs, has_ref)) != 1:
            raise DslError(
                "percolate takes exactly one of document, documents, "
                "or index+id")
        if has_ref:
            # r13 late: index-based percolation — ES's "percolate a
            # doc already in an index". One point lookup (id filter
            # pushed to the scan), then the inline path.
            table, doc_id = body.get("index"), body.get("id")
            if not table or doc_id is None:
                raise DslError(
                    "index-based percolate requires both index and id")
            path = os.path.join(self.lake_dir, str(table))
            if not path_exists(self.spark, path):
                raise NotFoundError(f"no such table {table!r}")
            df = self.spark.read.parquet(path)
            idc = "id" if "id" in df.columns else next(
                (c for c in df.columns if c.endswith("_id")), None)
            if idc is None:
                raise DslError(f"table {table!r} has no id column")
            rows = (df.filter(F.col(idc).cast("string")
                              == str(doc_id)).limit(1).collect())
            if not rows:
                raise NotFoundError(
                    f"document {doc_id!r} not found in {table!r}")
            docs = [rows[0].asDict(recursive=True)]
        else:
            docs = (body["documents"] if has_docs
                    else [body["document"]])
        if not isinstance(docs, list) or not docs:
            raise DslError("percolate documents must be a non-empty "
                           "list")
        slots: dict[str, list[int]] = {}
        for i, doc in enumerate(docs):
            if self.percolator_queries:
                for qid in percolate_document(
                        self.spark, doc, self.percolator_queries):
                    slots.setdefault(qid, []).append(i)
        hits = []
        for qid in sorted(slots):
            h = {"_index": "percolator", "_id": qid, "_score": 1.0,
                 "_source": {"query": self.percolator_queries[qid]}}
            if has_docs:
                h["fields"] = {"_percolator_document_slot": slots[qid]}
            hits.append(h)
        total = len(hits)
        return {"hits": {
            "total": {"value": total, "relation": "eq"},
            "max_score": 1.0 if hits else None,
            "hits": hits[from_:from_ + k],
        }}

    def _resolve_mlt_likes(self, node, default_table: str | None):
        """Deep-rewrite every ``more_like_this`` ``like`` list,
        replacing document references with the referenced docs' field
        text. ``{"_id": v}`` looks up ``v`` in the entry's ``_index``
        (or the request's single concrete table) by the table's id
        column; ``{"doc": {…}}`` is ES's artificial-document form and
        needs no lookup. Only the mlt ``fields`` contribute text,
        like ES."""
        import fnmatch as _fn

        if isinstance(node, list):
            return [self._resolve_mlt_likes(x, default_table)
                    for x in node]
        if not isinstance(node, dict):
            return node
        out: dict = {}
        for k, v in node.items():
            if k != "more_like_this" or not isinstance(v, dict):
                out[k] = self._resolve_mlt_likes(v, default_table)
                continue
            v = dict(v)
            fields = [str(f).split("^", 1)[0]
                      for f in (v.get("fields") or [])]
            texts: list[str] = []
            for e in _as_like_list(v.get("like")):
                if isinstance(e, str):
                    texts.append(e)
                    continue
                if not isinstance(e, dict):
                    raise DslError(
                        f"malformed more_like_this like entry {e!r}")
                if "doc" in e:
                    doc = e["doc"]
                    if not isinstance(doc, dict):
                        raise DslError(
                            "more_like_this like.doc must be an object")
                    texts.extend(
                        str(val) for f, val in doc.items()
                        if val is not None
                        and (not fields or any(
                            _fn.fnmatchcase(f, p) for p in fields)))
                    continue
                if "_id" not in e:
                    raise DslError(
                        f"malformed more_like_this like entry {e!r} "
                        "(expected text, {'_id': …} or {'doc': …})"
                    )
                table = e.get("_index", default_table)
                if not table:
                    raise DslError(
                        "more_like_this {'_id': …} entries need an "
                        "_index (or a single concrete request table)"
                    )
                df = self.spark.read.parquet(
                    os.path.join(self.lake_dir, str(table)))
                idc = "id" if "id" in df.columns else next(
                    (c for c in df.columns if c.endswith("_id")), None)
                if idc is None:
                    raise DslError(
                        f"table {table!r} has no id column for "
                        "more_like_this doc lookup"
                    )
                cols = [c for c in df.columns
                        if not fields or any(
                            _fn.fnmatchcase(c, p) for p in fields)]
                rows = df.filter(
                    F.col(idc).cast("string") == str(e["_id"])
                ).select(*(cols or [idc])).limit(1).collect()
                if rows:  # absent docs are ignored, like ES
                    texts.extend(str(rows[0][c]) for c in cols
                                 if rows[0][c] is not None)
            v["like"] = texts
            out[k] = v
        return out

    def _resolve_terms_lookups(self, node, default_table: str | None):
        """Deep-rewrite terms-lookup specs into plain value lists (the
        schema-free compiler's input). The lookup doc is fetched by
        the target table's id column; ``path`` must name a column —
        an array value is the list, a scalar is a one-element list,
        an absent doc or null value is the empty list."""
        if isinstance(node, list):
            return [self._resolve_terms_lookups(x, default_table)
                    for x in node]
        if not isinstance(node, dict):
            return node
        out: dict = {}
        for k, v in node.items():
            if k != "terms" or not isinstance(v, dict):
                out[k] = self._resolve_terms_lookups(v, default_table)
                continue
            body = {}
            for f, spec in v.items():
                if not (isinstance(spec, dict)
                        and {"id", "path"} <= set(spec)):
                    body[f] = spec
                    continue
                unknown = sorted(set(spec) - {"index", "id", "path",
                                              "routing"})
                if unknown:
                    raise DslError(
                        f"unsupported terms lookup keys: {unknown}")
                table = spec.get("index", default_table)
                if not table:
                    raise DslError(
                        "terms lookup needs an index (or a single "
                        "concrete request table)"
                    )
                df = self.spark.read.parquet(
                    os.path.join(self.lake_dir, str(table)))
                path = str(spec["path"])
                if path not in df.columns:
                    raise DslError(
                        f"terms lookup path {path!r} is not a column "
                        f"of {table!r}")
                idc = "id" if "id" in df.columns else next(
                    (c for c in df.columns if c.endswith("_id")),
                    None)
                if idc is None:
                    raise DslError(
                        f"table {table!r} has no id column for a "
                        "terms lookup")
                rows = df.filter(
                    F.col(idc).cast("string") == str(spec["id"])
                ).select(path).limit(1).collect()
                val = rows[0][path] if rows else None
                if val is None:
                    body[f] = []
                elif isinstance(val, (list, tuple)):
                    body[f] = [x for x in val if x is not None]
                else:
                    body[f] = [val]
            out[k] = body
        return out

    def _scored_search(
        self, names: list, dsl: dict, k: int, from_: int,
        source, fields_opt, aggs, suggest, post_filter,
        track_total_hits, highlight: dict | None = None,
        collapse: dict | None = None,
        indices_boost=None,
        rescore: dict | None = None,
        min_score=None,
    ) -> dict[str, Any]:
        """The RANKED page for a top-level ``function_score`` /
        ``script_score`` query (r9): (predicate, score) compiled by
        :mod:`.plans.score_dsl` into pure column algebra, page ordered
        by the computed ``_score``.

        Plan shape per table: one scan → filter → score column →
        TakeOrdered(from+size) with the deterministic tie-break
        (:func:`.operators.similarity.tiebreak_columns`); totals ride
        the TakeOrdered via an Observation (exact, one job). Pattern
        requests merge per-table pages by score (cross-table score
        ties break on table name, then per-table rank — stable).

        ``aggs`` see the matched-and-min_score'd set (min_score is
        query membership here, unlike the post-hoc request-level
        floor); ``post_filter`` then narrows hits and totals only —
        the standard faceted contract. Note the tie-break projects
        every orderable column, so ``_source`` filtering does not
        shrink this scan the way it does on unranked pages — the
        determinism contract is worth more than the pruning."""
        from pyspark.sql import Observation
        from pyspark.sql.types import (
            DateType,
            TimestampNTZType,
            TimestampType,
        )

        from sql_database_to_elastic_datalake_spark.operators.similarity import (
            tiebreak_columns,
        )
        from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
            distance_feature_columns,
            function_score_columns,
            rank_feature_columns,
            script_score_columns,
        )
        from sql_database_to_elastic_datalake_spark.plans.search import (
            collect_highlight_terms,
            resolve_source_columns,
        )

        _validate_highlight(highlight)
        pre, post = _highlight_tags(highlight)
        cfield = None
        if collapse is not None:
            # r12: collapse rides the ranked page — ES's default
            # (group results under the _score order, no explicit sort
            # needed). inner_hits stay on the sorted membership page.
            if not (isinstance(collapse, dict)
                    and isinstance(collapse.get("field"), str)):
                raise DslError('collapse requires a "field" string')
            unknown = sorted(set(collapse) - {"field", "inner_hits"})
            if unknown:
                raise DslError(
                    f"unsupported collapse options: {unknown}")
            if collapse.get("inner_hits") is not None:
                raise DslError(
                    "collapse inner_hits on the ranked page are not "
                    "supported — add an explicit sort for the "
                    "inner_hits page")
            cfield = collapse["field"]
        boost_by_pattern: list[tuple[str, float]] = []
        if indices_boost is not None:
            # ES indices_boost: per-index score multiplier on pattern
            # searches (list of one-key objects; the legacy dict form
            # accepted too). First matching pattern wins, like ES.
            entries = (list(indices_boost.items())
                       if isinstance(indices_boost, dict) else [
                           next(iter(e.items()))
                           for e in indices_boost
                           if isinstance(e, dict) and len(e) == 1])
            if not entries or (isinstance(indices_boost, list) and any(
                    not (isinstance(e, dict) and len(e) == 1)
                    for e in indices_boost)):
                raise DslError(
                    "indices_boost must be a non-empty list of "
                    "single-entry {index: factor} objects")
            for pat, factor in entries:
                if isinstance(factor, bool) or not isinstance(
                        factor, (int, float)) or factor < 0:
                    raise DslError(
                        f"indices_boost factor for {pat!r} must be a "
                        "non-negative number")
                boost_by_pattern.append((str(pat), float(factor)))
        if rescore is not None and cfield is not None:
            raise DslError("rescore is not supported with collapse")
        kind = next(iter(dsl))
        body = dsl[kind]
        merged: list[tuple] = []
        total_value = 0
        aggregations = suggestions = None
        for name in names:
            df = self.spark.read.parquet(
                os.path.join(self.lake_dir, name))

            def resolve(f: str, _df=df):
                return (F.col(f) if f in _df.columns
                        else F.lit(None).cast("string"))

            date_fields = {
                f.name for f in df.schema.fields
                if isinstance(f.dataType, (
                    DateType, TimestampType, TimestampNTZType))
            }
            try:
                if kind == "function_score":
                    pred, score, ms = function_score_columns(
                        body, resolve, df.columns, date_fields)
                elif kind == "rank_feature":
                    pred, score, ms = rank_feature_columns(body, resolve)
                elif kind == "distance_feature":
                    pred, score, ms = distance_feature_columns(
                        body, resolve, date_fields,
                        schema_fields=df.schema)
                elif kind == "script_score":
                    pred, score, ms = script_score_columns(
                        body, resolve, df.columns)
                else:
                    # r12: generic scoreable query (multi_match /
                    # query_string / simple_query_string) — membership
                    # from compile_dsl, rank from compile_score
                    from sql_database_to_elastic_datalake_spark.plans \
                        .es_dsl import compile_score

                    pred = compile_dsl(
                        dsl, field_resolver=resolve,
                        schema_fields=df.schema)
                    score = compile_score(
                        dsl, field_resolver=resolve,
                        schema_fields=df.schema)
                    ms = None
            except DslError:
                raise
            except Exception:
                if len(names) == 1:
                    raise
                continue  # pattern member that can't express the query
            import fnmatch as _fn2

            if boost_by_pattern:
                for pat, factor in boost_by_pattern:
                    if _fn2.fnmatchcase(name, pat):
                        score = score * F.lit(factor)
                        break
            # a null score (missing field, log of a non-positive …)
            # drops the hit — the documented refuse-silently-wrong
            # posture (score_dsl.script_column)
            scored = (df.filter(pred)
                      .withColumn("_score", score)
                      .filter(F.col("_score").isNotNull()))
            if rescore is not None:
                # two-phase ranking on the ranked page (r12): the
                # secondary score rides the SAME scan as an extra
                # Column; window recombination happens driver-side on
                # the collected window only — per-table windows are
                # the analog of ES's per-shard rescore windows
                scored = scored.withColumn(
                    "_rescore", _rescore_expr(rescore, df)
                ).withColumn(
                    "_rescore_matched", _rescore_match_expr(rescore, df))
            if ms is not None:
                scored = scored.filter(F.col("_score") >= F.lit(ms))
            if min_score is not None:
                # the request-level floor (ES: composes with a
                # function_score's own min_score) — drops hits from
                # BOTH the page and the totals, like ES
                try:
                    scored = scored.filter(
                        F.col("_score") >= F.lit(float(min_score)))
                except (TypeError, ValueError):
                    raise DslError("min_score must be a number") \
                        from None
            if aggs:
                from sql_database_to_elastic_datalake_spark.plans.es_aggs \
                    import run_aggs

                # the scored set's exact membership predicate (pred +
                # non-null score + min_score) so significant_text can
                # flag the foreground inside one background scan
                fgp = pred & score.isNotNull()
                if ms is not None:
                    fgp = fgp & (score >= F.lit(ms))
                aggregations = run_aggs(
                    scored.drop("_score"), aggs,
                    schema_fields=df.schema, background=df,
                    background_pred=fgp)
            if suggest:
                suggestions = _run_suggest(df, suggest)
            if post_filter is not None:
                scored = scored.filter(compile_dsl(
                    post_filter, field_resolver=resolve,
                    schema_fields=df.schema))
            if k == 0:
                if track_total_hits is not False:
                    total_value += scored.count()
                continue
            src_cols = resolve_source_columns(df.columns, source)
            fout = _resolve_fields_option(fields_opt, df.columns)
            fout_cols = [c for c, _ in fout]
            hl_fields: list = []
            hl_terms: dict[str, list[str]] = {}
            if highlight:
                # highlight on the RANKED page (r12): same driver-side
                # returned-rows-only contract as the membership page
                hl_fields = _highlight_plan(highlight, df.columns)
                hl_terms = collect_highlight_terms(dsl, df.columns)
            tie = tiebreak_columns(df)
            needed = list(dict.fromkeys(
                src_cols + fout_cols + [f for f, *_ in hl_fields]
                + ([cfield] if cfield and cfield in df.columns else [])
                + tie + ["_score"]
                + (["_rescore", "_rescore_matched"]
                   if rescore is not None else [])))
            page = scored.select(*needed)
            obs = None
            if track_total_hits is not False:
                obs = Observation()
                page = page.observe(obs, F.count(F.lit(1)).alias("n"))
            order = [F.col("_score").desc()] + [
                F.col(c).asc_nulls_first() for c in tie]
            if cfield is not None:
                from sql_database_to_elastic_datalake_spark.plans.search \
                    import collapse_hits

                # observed pre-collapse (ES totals count matches, not
                # groups); the window top-1 per key under the _score
                # order is the WindowGroupLimit shape — per-key best
                # rows pre-truncate before the shuffle
                ckey = (F.col(cfield) if cfield in df.columns
                        else F.lit(None).cast("string"))
                page = collapse_hits(page, ckey, order)
            window = int(rescore.get("window_size", 10)) \
                if rescore is not None else 0
            rows = page.orderBy(*order).limit(
                max(window, from_ + k)).collect()
            if obs is not None:
                total_value += obs.get["n"]
            if rescore is not None and rows:
                head = _rescore_window(rows, rescore, window)
                rows = [r for _, r in head] + list(rows[window:])
                rescored = {id(r): c for c, r in head}
                rows = rows[:from_ + k]
            else:
                rescored = {}
                rows = rows[:from_ + k]
            for i, r in enumerate(rows):
                h = {**_hit(name, r, src_cols, hl_fields, hl_terms,
                            pre, post, fields_out=fout),
                     "_score": rescored.get(id(r), r["_score"])}
                if cfield is not None:
                    # the collapse key outside _source (which may be
                    # filtered away) — ES returns it under `fields`
                    h.setdefault("fields", {})[cfield] = [
                        r[cfield] if cfield in df.columns else None]
                # the merge key is the FINAL (possibly rescored)
                # score; i preserves each table's post-window order
                merged.append((-h["_score"], name, i, h))
        merged.sort(key=lambda t: t[:3])
        if cfield is not None and len(names) > 1:
            # pattern request: global re-collapse across tables —
            # merged is score-ordered, so first-seen IS the best
            seen: set = set()
            uniq = []
            for t in merged:
                v = t[3].get("fields", {}).get(cfield, [None])[0]
                key_ = ("\0null",) if v is None else v
                if key_ in seen:
                    continue
                seen.add(key_)
                uniq.append(t)
            merged = uniq
        hits = [h for _, _, _, h in merged[from_:from_ + k]]
        out: dict[str, Any] = {"hits": {"hits": hits}}
        # ES ranked pages carry hits.max_score: the best MATCHING
        # doc's score regardless of the from_ offset (r13 ADVICE —
        # slicing first under-reported it on paged requests), null
        # when nothing matched
        out["hits"]["max_score"] = (-merged[0][0]) if merged else None
        if track_total_hits is not False:
            out["hits"]["total"] = {
                "value": total_value, "relation": "eq"}
        if aggregations is not None:
            out["aggregations"] = aggregations
        if suggestions is not None:
            out["suggest"] = suggestions
        return out

    def scroll_search(
        self, table: str | None = None, dsl: dict | None = None,
        size: int = 10, sort: list | None = None, source=None,
        aggs: dict | None = None, scroll_id: str | None = None,
    ) -> dict[str, Any]:
        """``scroll``-shaped deep pagination, STATELESS (r9): the
        continuation token encodes the query and the cursor, so any
        node can serve any page and nothing expires server-side —
        the documented divergence from ES's stateful contexts (whose
        TTL/heap pressure is exactly what ``search_after`` was
        introduced to fix; ES itself deprecates scroll for deep
        pagination). The official client's ``helpers.scan`` — the
        default bulk-export idiom — drains unchanged: first call with
        the query, then repeated calls with the returned
        ``_scroll_id``.

        Paging is the existing ``search_after`` total-order cursor:
        the caller's sort clauses (minus ``_doc``, whose arbitrary
        order a deterministic engine replaces) are extended with the
        table's tie-break columns
        (:func:`.operators.similarity.tiebreak_columns`, atomic
        orderable ones) so consecutive pages can never overlap or
        gap; each page is one TakeOrdered whose cursor predicate
        prunes at the scan. Totals on page N count the REMAINING
        rows (the search_after divergence, documented there).

        Two further divergences from ES, both stated: a scroll TTL in
        the request is accepted-and-ignored (nothing to expire), and
        the snapshot-isolation ES scroll contexts give (a scroll sees
        the index as of context creation) does not hold — pages read
        the live table, so a concurrent destructive refresh can shift
        rows between pages. ``aggs`` ride the FIRST page only (like
        ES, which computes them once per scroll).
        """
        import base64
        import json as _json

        from pyspark.sql.types import (
            ArrayType,
            BinaryType,
            StructType,
        )

        from sql_database_to_elastic_datalake_spark.operators.similarity import (
            tiebreak_columns,
        )

        if scroll_id is not None:
            try:
                st = _json.loads(
                    base64.urlsafe_b64decode(scroll_id.encode()))
                if st.get("v") != 1:
                    raise ValueError
                table, dsl, sort, size, source, after = (
                    st["table"], st["query"], st["sort"], st["size"],
                    st.get("_source"), st["after"])
            except DslError:
                raise
            except Exception:
                raise DslError(
                    "malformed scroll_id (tokens are opaque — pass "
                    "the _scroll_id of the previous page verbatim)"
                ) from None
        else:
            if not table or "*" in table or "?" in table:
                raise DslError(
                    "scroll requires a single concrete table "
                    "(per-table drains compose; a cross-pattern "
                    "cursor would re-merge every page)"
                )
            df = self.spark.read.parquet(
                os.path.join(self.lake_dir, table))
            clauses: list = []
            seen: set[str] = set()
            for s in sort or []:
                f = s if isinstance(s, str) else next(iter(s))
                if f == "_doc":
                    continue  # arbitrary order → the tie-break below
                clauses.append({f: s[f]} if isinstance(s, dict)
                               else {s: "asc"})
                seen.add(f)
            atomic = [
                c for c in tiebreak_columns(df)
                if not isinstance(df.schema[c].dataType,
                                  (ArrayType, StructType, BinaryType))
            ]
            clauses.extend({c: "asc"} for c in atomic
                           if c not in seen)
            if not clauses:
                raise DslError(
                    "scroll needs at least one sortable column")
            sort = clauses
            after = None
        dsl = dsl or {"match_all": {}}
        out = self.advanced_search(
            table, dsl, k=int(size), sort=sort, search_after=after,
            source=source, aggs=aggs)
        hits = out["hits"]["hits"]
        new_after = hits[-1]["sort"] if hits else after

        def _jsonable(v):
            # datetime.date.isoformat() takes no arguments — only
            # datetime.datetime accepts sep=" " (DateType sort /
            # tie-break columns reach here as plain date objects)
            if isinstance(v, datetime):
                return v.isoformat(sep=" ")
            if hasattr(v, "isoformat"):
                return v.isoformat()
            raise TypeError(f"unserializable sort value {v!r}")

        payload = {"v": 1, "table": table, "query": dsl,
                   "sort": sort, "size": int(size),
                   "_source": source, "after": new_after}
        out["_scroll_id"] = base64.urlsafe_b64encode(
            _json.dumps(payload, default=_jsonable).encode()).decode()
        return out

    def open_pit(self, table: str, keep_alive=None) -> dict:
        """ES 8.x ``_pit`` open — the modern replacement for scroll
        (Kibana Discover and ``helpers.scan``'s PIT path send
        PIT + ``search_after``). STATELESS, like :meth:`scroll_search`:
        the id is an opaque token encoding the resolved table, so any
        node serves any page, nothing is held server-side, and
        ``keep_alive`` is accepted-and-ignored (nothing to expire).

        DOCUMENTED DIVERGENCE (same as scroll): ES's PIT pins a
        point-in-time VIEW of the index — this engine's pages read the
        live table, so a concurrent destructive refresh can shift rows
        between pages. An index PATTERN resolves at open time to the
        concrete table (ES resolves the index set at open too); a
        pattern matching several tables is a named 400 — per-table
        PITs compose, a cross-table cursor would re-merge every page.
        A missing table is the route's 404, like ES."""
        import base64
        import fnmatch as _fn
        import json as _json

        if not isinstance(table, str) or not table:
            raise DslError("pit requires a table")
        if "*" in table or "?" in table:
            names = sorted(
                d for d in os.listdir(self.lake_dir)
                if _fn.fnmatchcase(d, table)
                and os.path.isdir(os.path.join(self.lake_dir, d))
            )
            if not names:
                raise NotFoundError(f"no table matches {table!r}")
            if len(names) > 1:
                raise DslError(
                    f"pit pattern {table!r} matches {len(names)} "
                    "tables; open one pit per table (per-table drains "
                    "compose; a cross-table cursor would re-merge "
                    "every page)")
            table = names[0]
        elif not path_exists(self.spark,
                             os.path.join(self.lake_dir, table)):
            raise NotFoundError(f"no such table {table!r}")
        token = base64.urlsafe_b64encode(_json.dumps(
            {"v": 1, "pit": table}).encode()).decode()
        return {"id": token}

    def resolve_pit(self, pit: dict | str) -> str:
        """The table a ``pit.id`` token names (malformed → named
        400; the table may have been dropped since open → 404, the
        closest analogue of ES's expired-context error)."""
        import base64
        import json as _json

        pit_id = pit.get("id") if isinstance(pit, dict) else pit
        if not isinstance(pit_id, str) or not pit_id:
            raise DslError("pit requires an id")
        try:
            st = _json.loads(base64.urlsafe_b64decode(pit_id.encode()))
            table = st["pit"]
            if st.get("v") != 1 or not isinstance(table, str):
                raise ValueError
        except Exception:
            raise DslError(
                "malformed pit id (tokens are opaque — pass the id "
                "returned by the _pit open verbatim)") from None
        if not path_exists(self.spark,
                           os.path.join(self.lake_dir, table)):
            raise NotFoundError(
                f"pit target table {table!r} no longer exists")
        return table

    def pit_total_sort(self, table: str, sort: list | None) -> list:
        """The request sort totalized for PIT paging: ES appends an
        implicit ``_shard_doc`` tiebreak to every PIT search — this
        engine appends the table's atomic orderable tie-break columns
        (the scroll convention), so consecutive ``search_after`` pages
        can never overlap or gap whatever the caller sorts by."""
        from pyspark.sql.types import ArrayType, BinaryType, StructType

        from sql_database_to_elastic_datalake_spark.operators.similarity import (
            tiebreak_columns,
        )

        df = self.spark.read.parquet(os.path.join(self.lake_dir, table))
        clauses: list = []
        seen: set[str] = set()
        for s in sort or []:
            f = s if isinstance(s, str) else next(iter(s))
            if f in ("_doc", "_shard_doc"):
                continue  # arbitrary order → the tie-break below
            clauses.append({f: s[f]} if isinstance(s, dict)
                           else {s: "asc"})
            seen.add(f)
        atomic = [
            c for c in tiebreak_columns(df)
            if not isinstance(df.schema[c].dataType,
                              (ArrayType, StructType, BinaryType))
        ]
        clauses.extend({c: "asc"} for c in atomic if c not in seen)
        if not clauses:
            raise DslError("pit needs at least one sortable column")
        return clauses

    def termvectors(
        self, table: str, doc_id, fields: list | None = None,
        term_statistics: bool = False, field_statistics: bool = True,
    ) -> dict:
        """ES ``_termvectors`` (r11): one document's per-field term
        vectors — term_freq + positions + character offsets from the
        SAME analyzer the match queries use, ``doc_freq``/``ttf``
        under ``term_statistics``, and corpus ``field_statistics``
        (sum_doc_freq, doc_count, sum_ttf).

        Plan shape: the document is ONE point lookup (id In-filter
        pushed to the scan); its own vectors are driver-side string
        work on that single row. The optional statistics are the only
        distributed part — per requested field, one tokenize-explode
        pass over that COLUMN (pruned scan): term stats filter to the
        doc's own terms before the groupBy (a bounded In), field
        stats aggregate the same exploded stream. A diagnostic API —
        bounded driver transfer, corpus cost proportional to the
        columns asked about.

        Artificial-doc and per-field-analyzer forms are named 400s
        (this engine has one analyzer); a missing doc is
        ``found: false`` like ES, a missing table the route's 404."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            TOKEN_SPLIT_LOWER_RE,
            token_spans,
        )

        path = os.path.join(self.lake_dir, table)
        if not path_exists(self.spark, path):
            raise NotFoundError(f"no such table {table!r}")
        df = self.spark.read.parquet(path)
        id_col = "id" if "id" in df.columns else next(
            (c for c in df.columns if c.endswith("_id")), None)
        if id_col is None:
            raise DslError(
                f"table {table!r} has no id column for a point lookup")
        rows = df.filter(
            F.col(id_col).cast("string") == str(doc_id)).limit(2).collect()
        out: dict[str, Any] = {"_index": table, "_id": str(doc_id),
                               "found": bool(rows)}
        if not rows:
            return out
        row = rows[0]
        from pyspark.sql.types import StringType

        text_cols = [f.name for f in df.schema.fields
                     if isinstance(f.dataType, StringType)]
        if fields is None:
            wanted = text_cols
        else:
            if not isinstance(fields, list):
                raise DslError("termvectors fields must be a list")
            # ES silently skips unmapped fields; non-string columns
            # have no terms to vectorize — same skip
            wanted = [f for f in fields if f in text_cols]
        tvs: dict[str, Any] = {}
        for fname in wanted:
            val = row[fname]
            if val is None:
                continue
            spans = token_spans(str(val))
            terms: dict[str, Any] = {}
            for pos, (tok, off, ln) in enumerate(spans):
                ent = terms.setdefault(tok, {"term_freq": 0,
                                             "tokens": []})
                ent["term_freq"] += 1
                ent["tokens"].append({
                    "position": pos, "start_offset": off,
                    "end_offset": off + ln,
                })
            fentry: dict[str, Any] = {"terms": terms}
            if terms and (term_statistics or field_statistics):
                toks_col = F.filter(
                    F.split(F.lower(F.col(fname).cast("string")),
                            TOKEN_SPLIT_LOWER_RE),
                    lambda t: t != "")
                exploded = df.select(
                    F.col(id_col).alias("__doc"),
                    F.explode(toks_col).alias("__t"))
                if field_statistics:
                    stats = exploded.agg(
                        F.count(F.lit(1)).alias("sum_ttf"),
                        F.count_distinct("__doc").alias("doc_count"),
                        F.count_distinct("__doc", "__t")
                        .alias("sum_doc_freq"),
                    ).collect()[0]
                    fentry["field_statistics"] = {
                        "sum_doc_freq": int(stats["sum_doc_freq"]),
                        "doc_count": int(stats["doc_count"]),
                        "sum_ttf": int(stats["sum_ttf"]),
                    }
                if term_statistics:
                    per_term = {
                        r["__t"]: r
                        for r in exploded
                        .filter(F.col("__t").isin(list(terms)))
                        .groupBy("__t")
                        .agg(F.count(F.lit(1)).alias("ttf"),
                             F.count_distinct("__doc")
                             .alias("doc_freq"))
                        .collect()
                    }
                    for tok, ent in terms.items():
                        st = per_term.get(tok)
                        ent["doc_freq"] = int(st["doc_freq"]) if st else 0
                        ent["ttf"] = int(st["ttf"]) if st else 0
            tvs[fname] = fentry
        out["term_vectors"] = tvs
        return out

    def mget(
        self, table: str | None = None, ids: list | None = None,
        docs: list | None = None, source=None,
    ) -> dict:
        """ES ``_mget``: batch point lookups in request order.

        Both request shapes: ``{"ids": [...]}`` against a request
        table, or ``{"docs": [{"_index", "_id", "_source"?}, ...]}``
        (``_index`` defaults to the request table). ONE scan per
        distinct table with the id set pushed as an ``In`` filter —
        never a scan per id; a missing table or id is ``found: false``
        per entry, like ES, not a request error."""
        from sql_database_to_elastic_datalake_spark.plans.search import (
            resolve_source_columns,
        )

        if ids is not None and docs is not None:
            raise DslError("mget takes ids or docs, not both")
        if ids is not None:
            if not isinstance(ids, list):
                raise DslError("mget ids must be a list")
            if not table:
                raise DslError("mget ids form requires a table")
            entries = [{"_index": table, "_id": i, "_source": source}
                       for i in ids]
        elif docs is not None:
            if not isinstance(docs, list):
                raise DslError("mget docs must be a list")
            entries = []
            for d in docs:
                if not isinstance(d, dict) or "_id" not in d:
                    raise DslError("mget docs entries need an _id")
                unknown = sorted(set(d) - {"_index", "_id", "_source"})
                if unknown:
                    raise DslError(
                        f"unsupported mget doc keys: {unknown}")
                t = d.get("_index", table)
                if not t:
                    raise DslError(
                        "mget docs entry needs an _index (or a "
                        "request table)")
                entries.append({"_index": str(t), "_id": d["_id"],
                                "_source": d.get("_source", source)})
        else:
            raise DslError("mget requires ids or docs")

        by_table: dict[str, list[int]] = {}
        for i, e in enumerate(entries):
            by_table.setdefault(e["_index"], []).append(i)
        out_docs: list = [None] * len(entries)
        for t, idxs in by_table.items():
            path = os.path.join(self.lake_dir, t)
            if not path_exists(self.spark, path):
                for i in idxs:
                    out_docs[i] = {"_index": t,
                                   "_id": str(entries[i]["_id"]),
                                   "found": False}
                continue
            df = self.spark.read.parquet(path)
            idc = "id" if "id" in df.columns else next(
                (c for c in df.columns if c.endswith("_id")), None)
            if idc is None:
                raise DslError(f"table {t!r} has no id column for mget")
            wanted = sorted({str(entries[i]["_id"]) for i in idxs})
            # one job: the In() filter pushes into the scan; output
            # is bounded by the id list, so the collect is driver-safe
            rows = (df.filter(F.col(idc).cast("string").isin(wanted))
                    .orderBy(F.col(idc).asc_nulls_first())
                    .collect())
            by_id = {}
            for r in rows:
                by_id.setdefault(str(r[idc]), r)
            for i in idxs:
                rid = str(entries[i]["_id"])
                r = by_id.get(rid)
                if r is None:
                    out_docs[i] = {"_index": t, "_id": rid,
                                   "found": False}
                else:
                    src_cols = resolve_source_columns(
                        df.columns, entries[i].get("_source"))
                    out_docs[i] = {
                        "_index": t, "_id": rid, "found": True,
                        "_source": {c: r[c] for c in src_cols},
                    }
        return {"docs": out_docs}

    def field_caps(self, table: str | None = None,
                   fields=None) -> dict:
        """ES ``_field_caps`` — Kibana's first call against any index
        pattern. Pure metadata: schemas come from the parquet footers
        (``spark.read.parquet(...).schema``), NO job runs.

        Every engine column is both searchable and aggregatable (the
        lake has no unindexed fields), so the caps object's value is
        the TYPE map: Spark types render as their ES equivalents
        (bigint→long, string→keyword, timestamp→date,
        array<float>→dense_vector; arrays of scalars dissolve to the
        element type — ES mappings have no array kind). When a field
        carries different types across matched tables, each type entry
        lists its ``indices`` like ES; a single agreeing type omits
        the key, also like ES."""
        import fnmatch as _fn

        pattern = table or INDEX_PREFIX + "*"
        if "*" in pattern or "?" in pattern:
            names = sorted(
                d for d in os.listdir(self.lake_dir)
                if _fn.fnmatchcase(d, pattern)
                and os.path.isdir(os.path.join(self.lake_dir, d))
            )
        else:
            if not path_exists(self.spark,
                               os.path.join(self.lake_dir, pattern)):
                raise DslError(f"no such table {pattern!r}")
            names = [pattern]
        if fields is None:
            pats = ["*"]
        elif isinstance(fields, str):
            pats = [p.strip() for p in fields.split(",") if p.strip()]
        elif isinstance(fields, list):
            pats = [str(p) for p in fields]
        else:
            raise DslError("field_caps fields must be a list or "
                           "comma string")
        # field -> es_type -> [tables]
        by_field: dict[str, dict[str, list[str]]] = {}
        for t in names:
            schema = self.spark.read.parquet(
                os.path.join(self.lake_dir, t)).schema
            for f in schema.fields:
                if not any(_fn.fnmatchcase(f.name, p) for p in pats):
                    continue
                et = _es_field_type(f.dataType.simpleString())
                by_field.setdefault(f.name, {}).setdefault(
                    et, []).append(t)
        caps: dict[str, dict] = {}
        for fname, types in sorted(by_field.items()):
            entry = {}
            for et, tabs in sorted(types.items()):
                cap = {"type": et, "metadata_field": False,
                       "searchable": True, "aggregatable": True}
                if len(types) > 1:
                    cap["indices"] = sorted(tabs)
                entry[et] = cap
            caps[fname] = entry
        return {"indices": names, "fields": caps}

    def terms_enum(
        self, table: str, field: str, string: str = "",
        size: int = 10, case_insensitive: bool = False,
        search_after: str | None = None,
    ) -> dict:
        """ES ``_terms_enum`` — the index-backed autocomplete API
        (Kibana's field-value suggestions). Distinct values of a
        keyword field under a prefix, ascending, ≤ ``size``.

        Plan per matched table: prefix filter (pushed as
        StartsWith) → distinct → ascending TakeOrdered(size); tables
        lacking the field contribute nothing (ES's unmapped rule),
        per-table top-k lists merge driver-side (≤ size each). The
        distinct shuffle carries only the single projected column
        after the prefix filter — the same shape ES's per-shard terms
        walk produces. Always ``complete: true``: the walk is exact,
        never budget-truncated (divergence: ES may report false under
        its shard timeout)."""
        import fnmatch as _fn

        if not field:
            raise DslError("terms_enum requires a field")
        if size < 1:
            raise DslError("terms_enum size must be >= 1")
        if "*" in table or "?" in table:
            names = sorted(
                d for d in os.listdir(self.lake_dir)
                if _fn.fnmatchcase(d, table)
                and os.path.isdir(os.path.join(self.lake_dir, d))
            )
        else:
            names = [table]
        from sql_database_to_elastic_datalake_spark.plans.search import (
            terms_enum_frame,
        )

        terms: set[str] = set()
        for t in names:
            path = os.path.join(self.lake_dir, t)
            if not path_exists(self.spark, path):
                continue
            df = self.spark.read.parquet(path)
            if field not in df.columns:
                continue
            rows = terms_enum_frame(
                df, field, string=string, size=size,
                case_insensitive=case_insensitive,
                search_after=search_after,
            ).collect()
            terms.update(r["term"] for r in rows)
        return {
            "terms": sorted(terms)[:size],
            "complete": True,
            "_shards": {"total": len(names),
                        "successful": len(names), "failed": 0},
        }

    def explain(self, table: str, doc_id, query: dict) -> dict:
        """ES ``_explain`` — "why does/doesn't this document match".
        ONE point-lookup job (id filter pushed to the scan) evaluates
        the compiled predicate — and, for a ``bool`` query, every
        top-level clause's predicate — as extra boolean columns on the
        same row, so the breakdown costs nothing beyond the lookup.

        r13 upgrade (compile_score landed in r12): ``value`` is the
        doc's REAL score under the deterministic tf scoring model —
        the same number the ranked pages order by — and must/should
        clause details carry their score contributions (score when the
        clause matches, 0 otherwise, bool-sum semantics like Lucene);
        filter/must_not details stay 1/0 pass markers (they never
        contribute score, in ES either). DOCUMENTED DIVERGENCE: the
        tree is one level deep and the model is the engine's
        reproducible tf scoring, not shard-dependent BM25 — the
        description says so. A missing document returns a
        ``found: false`` envelope (the route's 404 body), like ES; a
        missing TABLE still raises (404 error body)."""
        import json as _json

        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            compile_score,
        )

        path = os.path.join(self.lake_dir, table)
        if not path_exists(self.spark, path):
            raise NotFoundError(f"no such table {table!r}")
        df = self.spark.read.parquet(path)
        idc = "id" if "id" in df.columns else next(
            (c for c in df.columns if c.endswith("_id")), None)
        if idc is None:
            raise DslError(f"table {table!r} has no id column")
        pred = compile_dsl(query, schema_fields=df.schema)
        score = compile_score(query, schema_fields=df.schema)
        probes = [pred.cast("boolean").alias("__m"),
                  score.cast("double").alias("__s")]
        clause_descs: list[tuple[str, bool]] = []
        if isinstance(query, dict) and len(query) == 1 \
                and next(iter(query)) == "bool" \
                and isinstance(query["bool"], dict):
            for occur, specs in query["bool"].items():
                if occur not in ("must", "filter", "should",
                                 "must_not"):
                    continue
                for spec in (specs if isinstance(specs, list)
                             else [specs]):
                    cp = compile_dsl(spec,
                                     schema_fields=df.schema)
                    if occur == "must_not":
                        cp = ~F.coalesce(cp, F.lit(False))
                    i = len(clause_descs)
                    probes.append(
                        cp.cast("boolean").alias(f"__c{i}"))
                    scored = occur in ("must", "should")
                    if scored:
                        probes.append(
                            compile_score(
                                spec, schema_fields=df.schema)
                            .cast("double").alias(f"__cs{i}"))
                    clause_descs.append((
                        f"{occur}: {_json.dumps(spec, sort_keys=True)}",
                        scored))
        rows = (df.filter(F.col(idc).cast("string")
                          == str(doc_id)).select(*probes).collect())
        if not rows:
            return {"_index": table, "_id": str(doc_id),
                    "found": False, "matched": False}
        r = rows[0]
        matched = bool(r["__m"]) if r["__m"] is not None else False
        children = []
        for i, (d, scored) in enumerate(clause_descs):
            hit = bool(r[f"__c{i}"] or False)
            if scored:
                v = float(r[f"__cs{i}"] or 0.0) if hit else 0.0
            else:
                v = 1.0 if hit else 0.0
            children.append(
                {"value": v,
                 "description":
                     f"{d} ({'matched' if hit else 'no match'})",
                 "details": []})
        return {
            "_index": table,
            "_id": str(doc_id),
            "found": True,
            "matched": matched,
            "explanation": {
                "value": (float(r["__s"] or 0.0) if matched else 0.0),
                "description": (
                    "deterministic tf scoring model (the ranked "
                    "pages' _score; divergence: reproducible scores, "
                    "not shard-dependent BM25; filter/must_not "
                    "details are 1/0 pass markers)"),
                "details": children,
            },
        }

    def advanced_search(
        self, table: str, dsl: dict, k: int = 10,
        aggs: dict | None = None,
        sort: list | None = None,
        search_after: list | None = None,
        from_: int = 0,
        source=None,
        highlight: dict | None = None,
        post_filter: dict | None = None,
        collapse: dict | None = None,
        track_total_hits=None,
        fields_opt=None,
        suggest: dict | None = None,
        knn: dict | None = None,
        runtime_mappings: dict | None = None,
        script_fields: dict | None = None,
        indices_boost=None,
        rescore: dict | None = None,
        min_score=None,
    ) -> dict[str, Any]:
        """Raw ES-DSL passthrough compiled to a Spark predicate (Q2);
        an optional ``aggs`` section runs over the MATCHED set (ES's
        contract: aggregations see the query scope, not the hits page)
        via :mod:`.plans.es_aggs`.

        ``sort`` orders the hits (ES sort clauses; TakeOrdered — no
        global sort materialization) and each hit then carries its
        ``sort`` values; ``search_after`` resumes from such a value
        tuple with a direction-aware lexicographic predicate applied to
        the RAW columns, so deep pages prune before the sort — ES's own
        deep-pagination contract. Like ES, stable paging needs a
        tie-breaking (unique) final sort key.

        ``from_`` is ES's offset pagination (``{"from": 20, "size":
        10}`` — the single most common saved-query idiom the
        reference's verbatim-body route accepts,
        src/search_api.py:38-46). It requires a ``sort`` (an offset
        into an unordered result is meaningless — rejected with a 400,
        matching this engine's posture of refusing silently-wrong
        answers) and is mutually exclusive with ``search_after`` (ES
        rejects a nonzero ``from`` there too). COST CONTRACT, same as
        ES's: every page materializes ``from + size`` rows through the
        TakeOrdered (driver-side slice after the per-table merge), so
        deep offsets degrade linearly — ES caps this at
        ``index.max_result_window`` (10k) for the same reason; use
        ``search_after`` for deep pagination.

        Documented divergence: under ``search_after`` the reported
        total counts the REMAINING (post-cursor) matches, not the full
        query as ES does — an observation ahead of the cursor filter
        would block the cursor predicate from reaching the parquet scan
        (CollectMetrics is a pushdown barrier), and at lake scale the
        deep-page scan pruning is worth more than re-reporting a number
        page one already carried.

        ``table`` may be an INDEX PATTERN (``data_lake_*``) — the
        reference's advanced search ALWAYS queries the pattern
        (src/search_api.py:40-44). Per ES semantics, a field a table
        doesn't have simply never matches there (tolerant resolver:
        unknown fields compile to null), and a table whose schema
        cannot express the query at all (e.g. ``nested`` on a missing
        path) contributes zero hits rather than an error. ``aggs``
        require a single concrete table.

        ``source`` is ES's ``_source`` filtering (bool / names /
        includes-excludes patterns). It is applied as a ``select``
        BEFORE the collect, so at scale it is a real scan projection
        (columns the page doesn't need never leave parquet), not
        response trimming. ``highlight`` wraps the query's positive
        text terms in ``pre_tags``/``post_tags`` on the RETURNED hits
        only (≤ from+size rows driver-side — never a distributed
        pass); fragments window to ES's defaults (fragment_size 100 /
        number_of_fragments 5) with edges snapped to boundary chars,
        and ``boundary_scanner: "sentence"`` (r12) gives the unified
        highlighter's whole-sentence fragments (BreakIterator
        restatement incl. the SB8 abbreviation guard —
        plans/search.py:sentence_spans); the remaining divergence is
        scorer internals only (``order: "score"`` fragment ranking).

        ``post_filter`` is ES's post-aggregation filter: ``aggs`` see
        the ``query`` scope, the hits page (and its totals) see
        ``query AND post_filter`` — the faceted-navigation contract.

        ``collapse`` (``{"field": f}``) returns one hit per distinct
        field value — the best under the request ``sort`` (required,
        same refuse-unordered posture as ``from``; mutually exclusive
        with ``search_after``). Spark shape: window top-1 per key →
        WindowGroupLimit pre-truncation, then the same TakeOrdered
        page. The reported total counts PRE-collapse matches, like ES.

        ``track_total_hits``: ES's totals contract. ``False`` omits
        the total entirely; ``True`` makes unranked totals exact (one
        count job per table — the same cost ES pays); an integer ``n``
        counts exactly up to ``n`` (``{n, "gte"}`` beyond — the count
        scans at most n+1 rows, never the corpus). Default (None)
        keeps the engine's k+1-budget behavior (≡ ``track_total_hits:
        k``); sorted pages are always exact (the Observation rides the
        TakeOrdered for free — a strictly-more-accurate divergence
        from ES's 10k default bound)."""
        import fnmatch as _fn

        # r13 (ADVICE): malformed bodies must be named 400s, not 500s
        # — a non-dict collapse reached `.get` in the routing
        # condition, a scalar indices_boost raised on iteration, and
        # a non-numeric rescore window/weight raised ValueError deep
        # in the combine. Shape-check the scoring options up front.
        if collapse is not None and not isinstance(collapse, dict):
            raise DslError('collapse must be an object with a "field"')
        if indices_boost is not None and not isinstance(
                indices_boost, (dict, list)):
            raise DslError(
                "indices_boost must be a list of single-entry "
                "{index: factor} objects")
        _validate_rescore_options(rescore)

        if "*" in table or "?" in table:
            names = sorted(
                d for d in os.listdir(self.lake_dir)
                if _fn.fnmatchcase(d, table)
                and os.path.isdir(os.path.join(self.lake_dir, d))
            )
        else:
            names = [table]
        if isinstance(dsl, dict) and len(dsl) == 1 \
                and next(iter(dsl)) == "percolate":
            # r13 reverse search: the percolate query matches STORED
            # queries against the request's document(s) — the table
            # plays no part (ES reads queries from the percolator
            # index; here they live in the service namespace)
            for bad, val in (("sort", sort), ("aggs", aggs),
                             ("knn", knn), ("collapse", collapse),
                             ("suggest", suggest),
                             ("search_after", search_after),
                             ("rescore", rescore),
                             ("highlight", highlight)):
                if val:
                    raise DslError(
                        f"percolate is not supported with {bad} "
                        "(the hits are stored queries, not documents)")
            return self._percolate_search(dsl["percolate"], k=k,
                                          from_=from_)
        rt_specs: dict = dict(runtime_mappings or {})
        if script_fields:
            # script_fields are runtime columns surfaced through the
            # fields-retrieval machinery (ES returns both under
            # hit["fields"]); they never enter _source
            if not isinstance(script_fields, dict):
                raise DslError("script_fields must be an object")
            for sfname, sfspec in script_fields.items():
                if not isinstance(sfspec, dict) \
                        or "script" not in sfspec:
                    raise DslError(
                        f"script_fields entry {sfname!r} requires a "
                        "script")
                if sfname in rt_specs:
                    raise DslError(
                        f"{sfname!r} is both a runtime mapping and a "
                        "script field")
                rt_specs[sfname] = {"type": "double",
                                    "script": sfspec["script"]}
            fields_opt = (list(fields_opt or [])
                          + [{"field": n} for n in script_fields])
        if rt_specs and knn is not None:
            raise DslError("runtime fields are not supported with knn")
        if rt_specs and isinstance(dsl, dict) and len(dsl) == 1 \
                and next(iter(dsl)) in _SCORED_KINDS and not sort:
            raise DslError(
                "runtime fields are not supported on the "
                "function_score/script_score ranked page (reference "
                "them from the score script directly instead)"
            )
        if _has_mlt_doc_refs(dsl):
            # more_like_this like-by-document entries ({"_id": …},
            # {"doc": {…}}) resolve HERE — the schema-free compiler
            # takes like text. One point-lookup job per referenced doc
            # (id filter pushed to the scan); an absent doc is ignored
            # like ES's "documents not available" rule.
            dsl = self._resolve_mlt_likes(
                dsl, names[0] if len(names) == 1 else None)
        if _has_terms_lookup(dsl):
            # ES terms lookup ({"terms": {f: {"index","id","path"}}}):
            # the referenced doc's path value becomes the terms list —
            # one point lookup, pushed id filter. A missing doc yields
            # an empty list (matches nothing), like ES.
            dsl = self._resolve_terms_lookups(
                dsl, names[0] if len(names) == 1 else None)
        if aggs and len(names) != 1:
            raise DslError(
                "aggs require a single concrete table (pattern matched "
                f"{len(names)})"
            )
        if suggest and len(names) != 1:
            raise DslError(
                "suggest requires a single concrete table (pattern "
                f"matched {len(names)})"
            )
        if knn is not None:
            # ES 8.x vector search. Pre-filter semantics: knn.filter
            # AND the sibling query both restrict the candidate set
            # (documented divergence: ES score-BLENDS a sibling query;
            # this engine has no scores for filter-context trees, so
            # it filters — the honest subset). Exact top-k by cosine,
            # scored (1+cos)/2 like ES's cosine index;
            # num_candidates is accepted-and-ignored (exact search is
            # strictly better recall than the HNSW bound it tunes).
            if len(names) != 1:
                raise DslError(
                    "knn requires a single concrete table (pattern "
                    f"matched {len(names)})"
                )
            for bad, val in (("sort", sort), ("collapse", collapse),
                             ("search_after", search_after),
                             ("aggs", aggs), ("highlight", highlight)):
                if val:
                    raise DslError(
                        f"knn is not supported with {bad} (rank order "
                        "comes from the vector similarity)"
                    )
            return self._knn_search(
                names[0], knn, dsl, k=k, from_=from_, source=source,
                fields_opt=fields_opt)
        if (isinstance(dsl, dict) and len(dsl) == 1
                and next(iter(dsl)) in _SCORED_KINDS
                and not sort):
            # top-level scoring query with no explicit sort: the
            # computed score IS the order (the ranked path). With an
            # explicit sort, scoring cannot affect the response and
            # the body compiles as membership below (filter context).
            if from_ < 0:
                raise DslError("from must be a non-negative integer")
            if search_after is not None:
                raise DslError(
                    f"{next(iter(dsl))} ranking is not supported "
                    "with search_after (add an explicit sort for the "
                    "membership-only page)")
            return self._scored_search(
                names, dsl, k=k, from_=from_, source=source,
                fields_opt=fields_opt, aggs=aggs, suggest=suggest,
                post_filter=post_filter,
                track_total_hits=track_total_hits,
                highlight=highlight, collapse=collapse,
                indices_boost=indices_boost, rescore=rescore,
                min_score=min_score)
        if (isinstance(dsl, dict) and len(dsl) == 1
                and (next(iter(dsl)) in _TEXT_SCORED_KINDS
                     # r13 late: a bool tree carrying a FEATURE
                     # scorer (rank_feature / distance_feature) in a
                     # scoring position ranks by the summed score —
                     # "boost nearby/recent inside a bool should" is
                     # those leaves' entire use case. Text/constant
                     # bools keep the documented membership order.
                     or (next(iter(dsl)) == "bool"
                         and _has_feature_scorer(dsl)))
                and not sort and search_after is None
                and not rt_specs
                and not (collapse and collapse.get("inner_hits"))):
            # r12: a top-level text-relevance query with no explicit
            # sort ranks by its computed score (ES's default _score
            # order, boosts honored) — highlight and collapse ride
            # the ranked page. Feature combinations it doesn't carry
            # (search_after / runtime fields / collapse inner_hits)
            # fall through to the membership page instead of erroring.
            if from_ < 0:
                raise DslError("from must be a non-negative integer")
            return self._scored_search(
                names, dsl, k=k, from_=from_, source=source,
                fields_opt=fields_opt, aggs=aggs, suggest=suggest,
                post_filter=post_filter,
                track_total_hits=track_total_hits,
                highlight=highlight, collapse=collapse,
                indices_boost=indices_boost, rescore=rescore,
                min_score=min_score)
        if indices_boost is not None or rescore is not None \
                or min_score is not None:
            # scoring-only keys on a page with no scores: silently
            # dropping them would change nothing the user asked for —
            # reject by name (the reference's ES applies them to the
            # _score order this page does not have)
            which = ("indices_boost" if indices_boost is not None
                     else "rescore" if rescore is not None
                     else "min_score")
            raise DslError(
                f"{which} needs a relevance-ranked page (a top-level "
                "scoring query with no explicit sort)")
        if search_after is not None and not sort:
            raise DslError("search_after requires a sort")
        if search_after is not None and sort and _sort_has_options(sort):
            raise DslError(
                "search_after does not support sort options (missing/"
                "mode/unmapped_type change the comparison value; the "
                "cursor compares raw columns)"
            )
        if from_:
            if from_ < 0:
                raise DslError("from must be a non-negative integer")
            if not sort:
                raise DslError(
                    "from requires a sort (an offset into an unordered "
                    "result set is not a page; add a sort or use "
                    "search_after)"
                )
            if search_after is not None:
                raise DslError(
                    "from is not allowed with search_after (ES rejects "
                    "a nonzero from there too)"
                )
        inner_hits = None
        if collapse is not None:
            if not (isinstance(collapse, dict)
                    and isinstance(collapse.get("field"), str)):
                raise DslError('collapse requires a "field" string')
            unknown = sorted(set(collapse) - {"field", "inner_hits"})
            if unknown:
                raise DslError(
                    f"unsupported collapse options: {unknown}")
            if not sort:
                raise DslError(
                    "collapse requires a sort (this engine has no "
                    "score to pick the representative hit without one)"
                )
            if search_after is not None:
                raise DslError("collapse is not allowed with search_after")
            inner_hits = collapse.get("inner_hits")
            if inner_hits is not None:
                # ES allows a LIST of inner_hits per collapse; one
                # object covers the Kibana/group-results idiom
                if isinstance(inner_hits, list):
                    raise DslError(
                        "multiple collapse inner_hits are not "
                        "supported (pass one object)")
                if not isinstance(inner_hits, dict):
                    raise DslError(
                        "collapse inner_hits must be an object")
                bad = sorted(set(inner_hits) - {
                    "name", "size", "from", "sort", "_source"})
                if bad:
                    raise DslError(
                        f"unsupported inner_hits options: {bad}")
                for nm in ("size", "from"):
                    v = inner_hits.get(nm)
                    if v is not None and (not isinstance(v, int)
                                          or isinstance(v, bool)
                                          or v < 0):
                        raise DslError(
                            f"inner_hits {nm} must be a non-negative "
                            "integer")
                if len(names) > 1:
                    raise DslError(
                        "collapse inner_hits requires a single "
                        f"concrete table (pattern matched "
                        f"{len(names)}; a cross-pattern group would "
                        "need a cross-table query per page)")
        if not (track_total_hits is None
                or isinstance(track_total_hits, (bool, int))):
            raise DslError(
                "track_total_hits must be true, false, or an integer")
        if isinstance(track_total_hits, int) \
                and not isinstance(track_total_hits, bool) \
                and track_total_hits < 0:
            raise DslError("track_total_hits bound must be non-negative")

        from sql_database_to_elastic_datalake_spark.plans.search import (
            collect_highlight_terms,
            resolve_source_columns,
        )

        _validate_highlight(highlight)
        pre, post = _highlight_tags(highlight)
        aggregations = None
        suggestions = None
        descs = _sort_directions(sort) if sort else []
        merged: list[dict] = []
        total_value, total_exact = 0, True
        for name in names:
            df = self.spark.read.parquet(os.path.join(self.lake_dir, name))
            orig_cols = df.columns
            if rt_specs:
                # runtime fields become real columns of this table's
                # frame — query, sort, aggs and fields retrieval all
                # see them with zero special-casing. Catalyst inlines
                # the expression everywhere it is referenced and
                # prunes it where it is not, so an unused runtime
                # field costs nothing at the scan. Later mappings may
                # reference earlier ones (dict order, like ES).
                from sql_database_to_elastic_datalake_spark.plans.score_dsl \
                    import runtime_column

                for rt_name, rt_spec in rt_specs.items():
                    def rt_resolve(f: str, _df=df):
                        return (F.col(f) if f in _df.columns
                                else F.lit(None).cast("double"))
                    df = df.withColumn(
                        rt_name, runtime_column(rt_spec, rt_resolve))
            # _source is the original document — runtime/script fields
            # surface only through `fields` (ES's contract)
            src_cols = resolve_source_columns(orig_cols, source)
            fout = _resolve_fields_option(fields_opt, df.columns)
            fout_cols = [c for c, _ in fout]
            hl_fields: list = []
            hl_terms: dict[str, list[str]] = {}
            if highlight:
                hl_fields = _highlight_plan(highlight, df.columns)
                hl_terms = collect_highlight_terms(dsl, df.columns)

            # r14: join-field leaves (has_child / has_parent /
            # parent_id) rewrite into semi-join flag columns BEFORE
            # the compile — the envelope machinery above resolved
            # against the unaugmented frame, and the flags are
            # dropped right after the filter, so they never reach a
            # response (plans/join_field.py)
            table_dsl, jf_flags = dsl, []
            from sql_database_to_elastic_datalake_spark.plans.join_field \
                import has_join_field, lake_sibling_loader, \
                rewrite_join_field

            if has_join_field(dsl):
                df, table_dsl, jf_flags = rewrite_join_field(
                    df, dsl, name,
                    lake_sibling_loader(self.spark, self.lake_dir))

            def resolve(field: str, _df=df):
                # ES: a query on a field an index lacks matches nothing
                # there — two-valued null semantics do exactly that
                return (F.col(field) if field in _df.columns
                        else F.lit(None).cast("string"))

            try:
                pred = compile_dsl(table_dsl, field_resolver=resolve,
                                   schema_fields=df.schema)
                matched = df.filter(pred)
            except DslError:
                raise
            except Exception:
                if len(names) == 1:
                    raise
                continue  # pattern member that can't express the query
            if jf_flags:
                matched = matched.drop(*jf_flags)
            if aggs:
                from sql_database_to_elastic_datalake_spark.plans.es_aggs \
                    import run_aggs

                from sql_database_to_elastic_datalake_spark.plans \
                    .join_field import lake_sibling_loader as _lsl

                aggregations = run_aggs(
                    matched, aggs, schema_fields=df.schema,
                    background=df, background_pred=pred,
                    relation_ctx=(name, _lsl(self.spark,
                                             self.lake_dir)))
            if suggest:
                # ES computes suggestions against the INDEX, not the
                # query's match set — pass the unfiltered table
                suggestions = _run_suggest(df, suggest)
            if post_filter is not None:
                # ES's faceted-navigation contract: aggs saw the query
                # scope ABOVE; hits and totals see query AND post_filter
                matched = matched.filter(
                    compile_dsl(post_filter, field_resolver=resolve,
                                schema_fields=df.schema))
            if sort:
                tsort = sort
                if any(isinstance(s, dict) and "_geo_distance" in s
                       for s in sort):
                    # r13: geo sort — distance materialized as a
                    # Column, then the ordinary machinery applies
                    matched, tsort = _rewrite_geo_sort(
                        matched, sort, df.columns)
                fields, order_cols, getters = _parse_sort(
                    tsort, matched.columns, matched.schema)
                if search_after is not None:
                    matched = matched.filter(
                        _search_after_pred(tsort, fields, search_after,
                                           schema=matched.schema)
                    )
                if k == 0:
                    # size:0 is ES's aggs-only/total-only request;
                    # limit(0) + Observation assert-fails (the limit-0
                    # optimizer rule prunes CollectMetrics), so the
                    # total is just a count here
                    if track_total_hits is not False:
                        total_value += matched.count()
                    continue
                # sorted page: TakeOrdered consumes every matched row,
                # so an Observation yields the exact total in-job
                from pyspark.sql import Observation

                # project to what the response needs BEFORE the
                # collect: _source filtering becomes real scan
                # pruning, and sort/highlight/collapse fields ride
                # along
                cfield = collapse["field"] if collapse else None
                needed = list(dict.fromkeys(
                    src_cols + fields + [f for f, *_ in hl_fields]
                    + fout_cols
                    + ([cfield] if cfield and cfield in df.columns
                       else []))) or None
                page = matched.select(*needed) if needed \
                    else matched.select(F.lit(1).alias("__1"))
                obs = None
                if track_total_hits is not False:
                    obs = Observation()
                    page = page.observe(
                        obs, F.count(F.lit(1)).alias("n"))
                if collapse:
                    from sql_database_to_elastic_datalake_spark.plans.search \
                        import collapse_hits

                    # observed pre-collapse (ES totals count matches,
                    # not groups); an unmapped field is one null group,
                    # like ES
                    ckey = (F.col(cfield) if cfield in df.columns
                            else F.lit(None).cast("string"))
                    page = collapse_hits(page, ckey, order_cols)
                # offset pages ride the same TakeOrdered: each table
                # yields its first from+k rows and the merge slices —
                # the documented linear deep-offset cost
                rows = page.orderBy(*order_cols).limit(
                    from_ + k).collect()
                if obs is not None:
                    total_value += obs.get["n"]
                new_hits = [
                    _hit(name, r, src_cols, hl_fields, hl_terms,
                         pre, post, sort_getters=getters,
                         fields_out=fout)
                    for r in rows
                ]
                if collapse:
                    # carry the collapse key OUTSIDE _source (which may
                    # be filtered away) — ES returns it under `fields`;
                    # the post-merge global re-collapse reads it too
                    # (merged, not overwritten: the `fields` retrieval
                    # option may populate the same dict)
                    for h, r in zip(new_hits, rows):
                        h.setdefault("fields", {})[cfield] = [
                            r[cfield] if cfield in df.columns else None]
                merged += new_hits
            elif k == 0:
                # total-only request: the k+1 budget trick below would
                # report the useless bound {0, "gte"} — a count per
                # table is what the client asked for
                if track_total_hits is not False:
                    total_value += matched.count()
            elif track_total_hits is None:
                # ONE job per table: an unranked filter stops scanning
                # at the limit; k+1 rows give the exact total when the
                # page covers the matches, else ES's track_total_hits
                # lower bound (r4 verdict nit — no separate count())
                budget = (k + 1) - total_value
                if budget <= 0:
                    total_exact = False
                    break
                needed = list(dict.fromkeys(
                    src_cols + [f for f, *_ in hl_fields]
                    + fout_cols)) or None
                page = matched.select(*needed) if needed \
                    else matched.select(F.lit(1).alias("__1"))
                rows = page.limit(budget).collect()
                total_value += len(rows)
                merged += [
                    _hit(name, r, src_cols, hl_fields, hl_terms,
                         pre, post, fields_out=fout)
                    for r in rows
                ]
            else:
                # explicit track_total_hits: the page and the total
                # are separate requests (exactly ES's cost model —
                # true pays a count, an integer bound scans at most
                # n+1 rows, false pays nothing)
                needed = list(dict.fromkeys(
                    src_cols + [f for f, *_ in hl_fields]
                    + fout_cols)) or None
                page = matched.select(*needed) if needed \
                    else matched.select(F.lit(1).alias("__1"))
                row_budget = k - len(merged)
                if row_budget > 0:
                    merged += [
                        _hit(name, r, src_cols, hl_fields, hl_terms,
                             pre, post, fields_out=fout)
                        for r in page.limit(row_budget).collect()
                    ]
                if track_total_hits is True:
                    total_value += matched.count()
                elif track_total_hits is not False:
                    remaining = (int(track_total_hits) + 1) - total_value
                    if remaining > 0:
                        total_value += page.limit(remaining).count()
        if sort or k == 0:
            merged = _merge_sorted_hits(merged, descs) if sort else []
            if merged and collapse is not None:
                # an index-pattern request can hold one hit PER TABLE
                # for a shared collapse key (each table collapsed
                # independently) — ES guarantees one hit per key
                # GLOBALLY, so keep only the first in merged order:
                # the per-table collapse already picked each table's
                # best, and the merge is the request sort, so
                # first-seen IS the global best (r6 advisory)
                cf = collapse["field"]
                seen: set = set()
                uniq = []
                for h in merged:
                    v = h.get("fields", {}).get(cf, [None])[0]
                    key_ = ("\0null",) if v is None else v
                    if key_ in seen:
                        continue
                    seen.add(key_)
                    uniq.append(h)
                merged = uniq
            merged = merged[from_:from_ + k]
            if inner_hits is not None and merged:
                # ES's second inner_hits phase: ONE bounded job for
                # the page's groups — the key set (≤ from+size keys)
                # pushes into the scan as an In filter, a window
                # top-(from+size) per key pre-truncates
                # (WindowGroupLimit), and per-group totals ride a
                # groupBy over the same pruned scope. `matched` is the
                # single table's post-post_filter scope (the hits
                # scope, like ES).
                self._attach_collapse_inner_hits(
                    names[0], matched, collapse["field"], inner_hits,
                    sort, merged)
            total = {"value": total_value, "relation": "eq"}
        elif track_total_hits is None:
            if total_value > k:
                total_exact = False
            total = {"value": min(total_value, k) if not total_exact
                     else total_value,
                     "relation": "eq" if total_exact else "gte"}
            merged = merged[:k]
        else:
            merged = merged[:k]
            if track_total_hits is True:
                total = {"value": total_value, "relation": "eq"}
            elif track_total_hits is False:
                total = None
            else:
                cap = int(track_total_hits)
                total = ({"value": cap, "relation": "gte"}
                         if total_value > cap
                         else {"value": total_value, "relation": "eq"})
        hits_env: dict[str, Any] = {"hits": merged}
        if track_total_hits is not False:
            hits_env["total"] = total
        out: dict[str, Any] = {"hits": hits_env}
        if aggregations is not None:
            out["aggregations"] = aggregations
        if suggestions is not None:
            out["suggest"] = suggestions
        return out

    def _attach_collapse_inner_hits(
        self, table: str, matched: DataFrame, cfield: str,
        inner: dict, sort: list, merged: list[dict],
    ) -> None:
        """Populate ``inner_hits`` on the returned collapsed page —
        each group's top ``size`` docs under the inner sort (default:
        the request sort, deterministic where ES would use ``_score``
        — documented). One bounded job: In-filter on the page's keys,
        window top-(from+size) per key, per-group exact totals."""
        from pyspark.sql import Window

        from sql_database_to_elastic_datalake_spark.plans.search import (
            resolve_source_columns,
        )

        keys = [h.get("fields", {}).get(cfield, [None])[0]
                for h in merged]
        non_null = [v for v in keys if v is not None]
        if cfield not in matched.columns:
            key_col = F.lit(None).cast("string")
        else:
            key_col = F.col(cfield)
        pred = None
        if non_null:
            pred = key_col.isin(non_null)
        if any(v is None for v in keys):
            nn = key_col.isNull()
            pred = nn if pred is None else (pred | nn)
        if pred is None:
            return
        isort = inner.get("sort") or sort
        ifields, iorder, igetters = _parse_sort(
            isort, matched.columns, matched.schema)
        isize = int(inner.get("size", 3))
        ifrom = int(inner.get("from", 0))
        iname = str(inner.get("name") or cfield)
        src_cols = resolve_source_columns(
            matched.columns, inner.get("_source"))
        from sql_database_to_elastic_datalake_spark.operators.similarity import (
            tiebreak_columns,
        )

        scoped = matched.filter(pred)
        # tiebreak over ORDERABLE columns only: a MapType column in
        # the window order is an AnalysisException
        # (INVALID_ORDERING_TYPE), turning a valid collapse+inner_hits
        # request into a 500 on tables with map columns
        order = list(iorder) + [
            F.col(c).asc_nulls_first() for c in tiebreak_columns(matched)
        ]
        w = Window.partitionBy(key_col).orderBy(*order)
        need = list(dict.fromkeys(
            src_cols + ifields
            + ([cfield] if cfield in matched.columns else [])))
        rows = (
            scoped.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.lit(ifrom + isize))
            .select(*need, "__rn")
            .collect()
        )
        counts = {
            r["__k"]: int(r["__n"])
            for r in scoped.groupBy(key_col.alias("__k"))
            .agg(F.count(F.lit(1)).alias("__n")).collect()
        }
        by_key: dict = {}
        for r in sorted(rows, key=lambda r: r["__rn"]):
            kv = r[cfield] if cfield in matched.columns else None
            if r["__rn"] > ifrom:
                by_key.setdefault(kv, []).append(r)
        for h, kv in zip(merged, keys):
            grp = by_key.get(kv, [])[:isize]
            h["inner_hits"] = {iname: {"hits": {
                "total": {"value": counts.get(kv, 0),
                          "relation": "eq"},
                "hits": [
                    _hit(table, r, src_cols, [], {}, "", "",
                         sort_getters=igetters)
                    for r in grp
                ],
            }}}


#: parsed-plan node names that make a SQL statement non-read-only.
#: Checked at LINE START of the parsed (unanalyzed) treeString — a
#: string literal can only appear inside a node's own line, so a
#: literal spelling one of these names can at worst cause a FALSE
#: POSITIVE (rejected), never smuggle a real command through.
_SQL_DENY = re.compile(
    r"^(?:Insert|Create|Drop|Alter|Set|Use|Analyze|Cache|Uncache|"
    r"Refresh|Truncate|Repair|Load|Merge|Update|Delete|Replace|"
    r"Show|Describe|Comment|Add|Remove|Reset|Declare|Call|Execute)"
    r"\w*$|^\w*Command$|^\w*Statement$")

_SQL_ROW_BUDGET = 100_000

#: Spark simpleString → ES SQL column type names
_ES_SQL_TYPES = {
    "bigint": "long", "int": "integer", "smallint": "short",
    "tinyint": "byte", "double": "double", "float": "float",
    "string": "keyword", "boolean": "boolean",
    "timestamp": "datetime", "timestamp_ntz": "datetime",
    "date": "datetime", "binary": "binary",
}


def _assert_read_only_sql(spark, query: str) -> None:
    """Named 400 unless the statement parses to a pure relational
    plan. The gate walks the PARSED tree (nothing executes during
    parsePlan) and rejects any node whose name matches the deny
    pattern — this catches commands nested under WITH (the top-level
    node alone would miss ``WITH x AS (...) INSERT ...``)."""
    try:
        plan = spark._jsparkSession.sessionState().sqlParser() \
            .parsePlan(query)
    except Exception as ex:
        first = str(ex).splitlines()[0] if str(ex) else "parse error"
        raise DslError(f"SQL parse error: {first}") from None
    for line in plan.treeString().splitlines():
        m = re.match(r"^[\s:+|\-]*'?([A-Za-z][A-Za-z0-9_]*)", line)
        if m and _SQL_DENY.match(m.group(1)):
            raise DslError(
                "only read-only SELECT statements are accepted "
                f"(found {m.group(1)})")


_KEEP_ALIVE_RE = re.compile(r"^(\d+)(ms|s|m|h|d)$")
_KEEP_ALIVE_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
                  "d": 86_400_000}


def _parse_keep_alive(spec) -> int | None:
    """ES time-value grammar ("5m", "30s") → millis; None = invalid."""
    m = _KEEP_ALIVE_RE.match(str(spec))
    if not m:
        return None
    return int(m.group(1)) * _KEEP_ALIVE_MS[m.group(2)]


def _apply_update_script(out: DataFrame, script: dict) -> DataFrame:
    """The painless ASSIGNMENT subset shared by ``_update_by_query``
    and ``_reindex``: ``;``-separated ``ctx._source.<field>
    =|+=|-=|*=|/= <arith>`` statements applied WHERE the ``__match``
    flag column holds (the caller pins the matched set before any
    assignment). Right-hand sides compile through the script_score
    arithmetic compiler with ``ctx._source`` references rewritten to
    column reads; statements execute in order and see earlier
    assignments; values cast back to the column's existing lake type,
    new fields append as doubles. Out-of-subset statements (ctx.op,
    conditionals, method calls) are named 400s."""
    from sql_database_to_elastic_datalake_spark.plans.score_dsl import (
        script_column,
    )

    src = script.get("source")
    if not isinstance(src, str):
        raise DslError("script requires a source string")
    stmts = [s.strip() for s in src.split(";") if s.strip()]
    if not stmts:
        raise DslError("update script has no statements")
    assign_re = re.compile(
        r"^ctx\._source\.([A-Za-z_][A-Za-z0-9_]*)\s*"
        r"(=|\+=|-=|\*=|/=)\s*(.+)$", re.S)
    for stmt in stmts:
        m = assign_re.match(stmt)
        if not m:
            raise DslError(
                f"unsupported update statement {stmt!r} (the "
                "implemented subset is ctx._source.<field> "
                "=|+=|-=|*=|/= <painless arithmetic>; ctx.op, "
                "conditionals and method calls are not "
                "column-expressible)")
        field, op, rhs = m.group(1), m.group(2), m.group(3)
        # ctx._source refs in the RHS are column reads — route them
        # through the script compiler's doc[] access
        rhs = re.sub(r"ctx\._source\.([A-Za-z_][A-Za-z0-9_]*)",
                     r"doc['\1'].value", rhs)
        val = script_column(
            {"source": rhs, "params": script.get("params"),
             "lang": script.get("lang")},
            lambda f, _o=out: (F.col(f) if f in _o.columns
                               else F.lit(None).cast("double")),
            base_score=None,
        )
        if op != "=":
            cur = (F.col(field) if field in out.columns
                   else F.lit(None)).cast("double")
            val = {"+=": cur + val, "-=": cur - val,
                   "*=": cur * val, "/=": cur / val}[op]
        if field in out.columns:
            val = val.cast(out.schema[field].dataType)
            keep = F.col(field)
        else:
            keep = F.lit(None).cast("double")
        out = out.withColumn(
            field, F.when(F.col("__match"), val).otherwise(keep))
    return out



def _validate_highlight(highlight) -> None:
    """Top-level highlight option validation (shared by the membership
    and ranked pages)."""
    if highlight is None:
        return
    if not (isinstance(highlight, dict)
            and isinstance(highlight.get("fields"), dict)):
        raise DslError('highlight requires a "fields" object')
    unknown = sorted(set(highlight) - {
        "fields", "pre_tags", "post_tags", "fragment_size",
        "number_of_fragments", "order", "boundary_chars",
        "boundary_max_scan", "boundary_scanner",
    })
    if unknown:
        raise DslError(f"unsupported highlight options: {unknown}")
    if highlight.get("order") not in (None, "none", "score"):
        raise DslError('highlight order must be "none" or "score"')


def _highlight_tags(highlight) -> tuple[str, str]:
    pre = (highlight.get("pre_tags") or ["<em>"])[0] if highlight else ""
    post = (highlight.get("post_tags") or ["</em>"])[0] if highlight \
        else ""
    return pre, post


def _highlight_plan(highlight: dict, columns: list[str]) -> list[tuple]:
    """Per-column highlight specs for one table: (column,
    fragment_size, number_of_fragments, boundary_chars,
    boundary_max_scan, boundary_scanner, order). Per-field fragment
    options override the request-level ones (ES's precedence);
    unspecified options take ES's DEFAULTS (fragment_size 100,
    number_of_fragments 5, boundary ".,!? \\t\\n"/20; `chars`
    scanner = match-centered windows snapped to boundary_chars,
    `sentence` = the unified highlighter's whole-sentence fragments,
    `word` a named 400)."""
    from sql_database_to_elastic_datalake_spark.plans.search import (
        BOUNDARY_CHARS,
        BOUNDARY_MAX_SCAN,
    )

    def _hl_int(spec, key, default, minimum):
        v = spec.get(key, default)
        if not isinstance(v, int) or isinstance(v, bool) or v < minimum:
            raise DslError(
                f"highlight {key} must be an integer >= {minimum}")
        return v

    def _hl_boundary(spec, d_chars, d_scan, d_scanner="chars"):
        sc = spec.get("boundary_scanner", d_scanner)
        if sc not in ("chars", "sentence"):
            raise DslError(
                f"highlight boundary_scanner {sc!r} is not "
                'implemented (supported: "chars", "sentence" — the '
                'unified highlighter default; "word" is java.text '
                "BreakIterator word machinery)")
        bc = spec.get("boundary_chars", d_chars)
        if not isinstance(bc, str):
            raise DslError("highlight boundary_chars must be a string")
        return bc, _hl_int(spec, "boundary_max_scan", d_scan, 0), sc

    g_fs = _hl_int(highlight, "fragment_size", 100, 1)
    g_nof = _hl_int(highlight, "number_of_fragments", 5, 0)
    g_bc, g_scan, g_sc = _hl_boundary(
        highlight, BOUNDARY_CHARS, BOUNDARY_MAX_SCAN)
    g_order = highlight.get("order") or "none"
    out: list[tuple] = []
    seen: set[str] = set()
    for pat, fspec in highlight["fields"].items():
        fs, nof, bc, scan, sc = g_fs, g_nof, g_bc, g_scan, g_sc
        if isinstance(fspec, dict):
            bad = sorted(set(fspec) - {
                "fragment_size", "number_of_fragments",
                "boundary_chars", "boundary_max_scan",
                "boundary_scanner"})
            if bad:
                raise DslError(
                    f"unsupported highlight field options: {bad}")
            fs = _hl_int(fspec, "fragment_size", g_fs, 1)
            nof = _hl_int(fspec, "number_of_fragments", g_nof, 0)
            bc, scan, sc = _hl_boundary(fspec, g_bc, g_scan, g_sc)
        for c in _expand_patterns([pat], columns):
            if c not in seen:
                seen.add(c)
                out.append((c, fs, nof, bc, scan, sc, g_order))
    return out


def _expand_patterns(names: list[str], columns: list[str]) -> list[str]:
    """Highlight field names/patterns → concrete columns of one table
    (a pattern matching nothing highlights nothing, like ES)."""
    import fnmatch as _fn

    out: list[str] = []
    for n in names:
        n = str(n)
        if "*" in n or "?" in n:
            out.extend(c for c in columns if _fn.fnmatchcase(c, n))
        elif n in columns:
            out.append(n)
    return list(dict.fromkeys(out))




def _validate_rescore_options(rescore) -> None:
    """Named 400s for malformed rescore scalar options (r13 ADVICE:
    a non-numeric window_size/weight raised ValueError deep in the
    combine, i.e. a 500, instead of the repo's named-400 posture)."""
    if rescore is None:
        return
    if not isinstance(rescore, dict):
        raise DslError("rescore must be an object")
    ws = rescore.get("window_size", 10)
    if isinstance(ws, bool) or not isinstance(ws, int) or ws < 0:
        raise DslError("rescore window_size must be a non-negative "
                       "integer")
    rspec = rescore.get("query")
    if isinstance(rspec, dict):
        for wkey in ("query_weight", "rescore_query_weight"):
            wv = rspec.get(wkey, 1.0)
            if isinstance(wv, bool) or not isinstance(
                    wv, (int, float)):
                raise DslError(f"rescore {wkey} must be a number")


def _rescore_expr(rescore: dict | None, df: "DataFrame"):
    """The rescore query's secondary tf score as an in-plan Column for
    one table (0.0 when rescoring is off or no requested field exists
    here). Scoreable leaves only — the kind gate predates
    compile_score and stays as the documented contract."""
    if rescore is None:
        return F.lit(0.0)
    if not isinstance(rescore, dict):
        raise DslError("rescore must be an object")
    unknown = sorted(set(rescore) - {"window_size", "query"})
    if unknown:
        raise DslError(f"unsupported rescore options: {unknown}")
    rspec = rescore.get("query")
    if not isinstance(rspec, dict) or "rescore_query" not in rspec:
        raise DslError("rescore requires query.rescore_query")
    unknown = sorted(set(rspec) - {"rescore_query", "query_weight",
                                   "rescore_query_weight",
                                   "score_mode"})
    if unknown:
        raise DslError(f"unsupported rescore query options: {unknown}")
    rq = rspec["rescore_query"]
    if not isinstance(rq, dict) or len(rq) != 1:
        raise DslError("rescore_query must be a single query node")
    kind, body = next(iter(rq.items()))
    if kind not in ("multi_match", "match", "match_phrase"):
        raise DslError(
            f"unsupported rescore_query kind {kind!r} (scoreable "
            "leaves only: multi_match, match, match_phrase)"
        )
    if kind == "multi_match" and not body.get("fields"):
        return F.lit(0.0)  # no requested field → zero contribution

    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        compile_score,
    )

    def resolve(f: str):
        # a field this table lacks contributes nothing (ES's
        # missing-field behavior), instead of failing analysis
        return (F.col(f) if f in df.columns
                else F.lit(None).cast("string"))

    # r12: boosts (leaf + per-field ^suffix) are honored — the score
    # compiler shares the leaf semantics with the ranked pages
    return compile_score(rq, field_resolver=resolve,
                         schema_fields=df.schema).cast("double")


#: ES rescore ``score_mode`` → how the weighted original and rescore
#: scores of a matched window doc combine.
_RESCORE_COMBINE = {
    "total": lambda o, r: o + r,
    "multiply": lambda o, r: o * r,
    "avg": lambda o, r: (o + r) / 2.0,
    "max": max,
    "min": min,
}


def _rescore_window(rows, rescore: dict, window: int) -> list:
    """ES's two-phase re-rank of the first ``window`` collected rows
    (each carrying ``_score``, ``_rescore`` and ``_rescore_matched``):
    ``[(combined score, row)]`` sorted by combined score, stable on
    the original rank for ties. The caller appends the rows beyond
    the window and pages.

    ES combines only for docs that MATCH the rescore query; a
    non-matching window doc keeps ``query_weight * original`` (feeding
    0 into multiply/avg/min would zero/halve/floor it and reorder the
    window differently from ES — r7 ADVICE). Matched-ness is the
    rescore query's membership predicate computed in-plan (r12 ADVICE:
    a matched doc can legitimately score 0.0 under boost 0, and ES
    still combines it — score truthiness was the wrong proxy)."""
    rspec = rescore.get("query") or {}
    qw = float(rspec.get("query_weight", 1.0))
    rqw = float(rspec.get("rescore_query_weight", 1.0))
    mode = rspec.get("score_mode", "total")
    combine = _RESCORE_COMBINE.get(mode)
    if combine is None:
        raise DslError(f"unknown rescore score_mode {mode!r}")
    head = [
        ((combine(qw * r["_score"], rqw * r["_rescore"])
          if r["_rescore_matched"] else qw * r["_score"]), i, r)
        for i, r in enumerate(rows[:window])
    ]
    head.sort(key=lambda t: (-t[0], t[1]))
    return [(c, r) for c, _, r in head]


def _rescore_match_expr(rescore: dict | None, df: "DataFrame"):
    """Whether the rescore query MATCHES a row, as a boolean Column.

    Matched-ness must come from the query's membership predicate, not
    from score truthiness: a matched doc can legitimately score 0.0
    (``boost: 0``, a zero-weighted constant leaf) and ES still
    combines it — under multiply/min the combined score is 0 where
    the truthiness proxy kept ``query_weight * original`` (r12
    ADVICE). Shape errors are left to :func:`_rescore_expr`, which
    runs first on the same spec and raises the named 400s."""
    if rescore is None or not isinstance(rescore, dict):
        return F.lit(False)
    rspec = rescore.get("query")
    if not isinstance(rspec, dict):
        return F.lit(False)
    rq = rspec.get("rescore_query")
    if not isinstance(rq, dict) or len(rq) != 1:
        return F.lit(False)
    kind, body = next(iter(rq.items()))
    if kind == "multi_match" and not (
            isinstance(body, dict) and body.get("fields")):
        return F.lit(False)  # no requested field → nothing matches

    def resolve(f: str):
        return (F.col(f) if f in df.columns
                else F.lit(None).cast("string"))

    return F.coalesce(
        compile_dsl(rq, field_resolver=resolve,
                    schema_fields=df.schema),
        F.lit(False))


#: metric → its accepted option keys (ES's rank_eval option surface)
_RANK_EVAL_METRICS = {
    "precision": {"k", "relevant_rating_threshold", "ignore_unlabeled"},
    "recall": {"k", "relevant_rating_threshold"},
    "mean_reciprocal_rank": {"k", "relevant_rating_threshold"},
    "dcg": {"k", "normalize"},
    "expected_reciprocal_rank": {"k", "maximum_relevance"},
}


def _hit_id(hit: dict) -> str | None:
    """A hit's document id under the engine's id convention (the mget
    rule): the ``id`` column if the table has one, else the first
    ``*_id`` column."""
    src = hit.get("_source") or {}
    if "id" in src:
        return None if src["id"] is None else str(src["id"])
    for c in src:
        if c.endswith("_id"):
            return None if src[c] is None else str(src[c])
    return None


def _rank_eval_score(mname: str, mspec: dict, ranked: list[str | None],
                     rmap: dict[str, int]) -> float:
    import math

    thr = int(mspec.get("relevant_rating_threshold", 1))
    if mname == "precision":
        rels = [rmap.get(i) for i in ranked]
        if mspec.get("ignore_unlabeled"):
            labeled = [r for r in rels if r is not None]
            denom = len(labeled)
            num = sum(1 for r in labeled if r >= thr)
        else:
            denom = len(rels)
            num = sum(1 for r in rels if r is not None and r >= thr)
        return num / denom if denom else 0.0
    if mname == "recall":
        total = sum(1 for r in rmap.values() if r >= thr)
        num = sum(1 for i in ranked
                  if rmap.get(i) is not None and rmap[i] >= thr)
        return num / total if total else 0.0
    if mname == "mean_reciprocal_rank":
        for pos, i in enumerate(ranked, 1):
            if rmap.get(i) is not None and rmap[i] >= thr:
                return 1.0 / pos
        return 0.0
    if mname == "dcg":
        def dcg(gains):
            return sum((2 ** g - 1) / math.log2(pos + 1)
                       for pos, g in enumerate(gains, 1))

        score = dcg([rmap.get(i, 0) or 0 for i in ranked])
        if mspec.get("normalize"):
            ideal = dcg(sorted(rmap.values(), reverse=True)
                        [:len(ranked)])
            return score / ideal if ideal else 0.0
        return score
    # expected_reciprocal_rank (Chapelle et al. 2009)
    gmax = mspec["maximum_relevance"]
    err, p_continue = 0.0, 1.0
    for pos, i in enumerate(ranked, 1):
        g = rmap.get(i, 0) or 0
        r = (2 ** g - 1) / (2 ** gmax)
        err += p_continue * r / pos
        p_continue *= (1 - r)
    return err


def _run_rank_eval(service: "LakeService", body) -> dict[str, Any]:
    """ES ``_rank_eval`` semantics over the engine's ranked pages —
    validation, per-request evaluation, mean score."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

    if not isinstance(body, dict):
        raise DslError("rank_eval body must be a JSON object")
    unknown = sorted(set(body) - {"requests", "metric", "table"})
    if unknown:
        raise DslError(f"unsupported rank_eval keys: {unknown}")
    reqs = body.get("requests")
    metric = body.get("metric")
    if not isinstance(reqs, list) or not reqs:
        raise DslError("rank_eval requires a non-empty requests list")
    if not isinstance(metric, dict) or len(metric) != 1:
        raise DslError("rank_eval requires exactly one metric")
    (mname, mspec), = metric.items()
    if mname not in _RANK_EVAL_METRICS:
        raise DslError(
            f"unsupported rank_eval metric {mname!r} "
            f"(supported: {sorted(_RANK_EVAL_METRICS)})")
    mspec = mspec or {}
    bad = sorted(set(mspec) - _RANK_EVAL_METRICS[mname])
    if bad:
        raise DslError(f"unsupported {mname} options: {bad}")
    k = mspec.get("k", 10)
    if not isinstance(k, int) or isinstance(k, bool) or k <= 0:
        raise DslError("rank_eval k must be a positive integer")
    if mname == "expected_reciprocal_rank":
        gmax = mspec.get("maximum_relevance")
        if not isinstance(gmax, int) or isinstance(gmax, bool) \
                or gmax < 1:
            raise DslError(
                "expected_reciprocal_rank requires maximum_relevance "
                ">= 1")
    details: dict[str, Any] = {}
    scores: list[float] = []
    seen_ids: set[str] = set()
    for req in reqs:
        if not isinstance(req, dict):
            raise DslError("each rank_eval request must be an object")
        runknown = sorted(set(req) - {"id", "request", "ratings",
                                      "table"})
        if runknown:
            raise DslError(
                f"unsupported rank_eval request keys: {runknown}")
        rid = req.get("id")
        if not isinstance(rid, str) or not rid:
            raise DslError("each rank_eval request needs an id")
        if rid in seen_ids:
            raise DslError(f"duplicate rank_eval request id {rid!r}")
        seen_ids.add(rid)
        search = req.get("request")
        if not isinstance(search, dict) or "query" not in search:
            raise DslError(
                f"request {rid!r} needs a request.query object")
        sunknown = sorted(set(search) - {"query", "sort"})
        if sunknown:
            raise DslError(
                f"unsupported keys in request {rid!r}: {sunknown} "
                "(rank_eval evaluates query + sort at the metric's k)")
        ratings = req.get("ratings")
        if not isinstance(ratings, list):
            raise DslError(f"request {rid!r} needs a ratings list")
        rmap: dict[str, int] = {}
        for ent in ratings:
            if not isinstance(ent, dict) or "_id" not in ent \
                    or "rating" not in ent:
                raise DslError(
                    f"request {rid!r}: each rating needs _id and "
                    "rating")
            if isinstance(ent["rating"], bool) \
                    or not isinstance(ent["rating"], int):
                raise DslError(
                    f"request {rid!r}: rating must be an integer")
            rmap[str(ent["_id"])] = ent["rating"]
        out = service.advanced_search(
            req.get("table") or body.get("table", INDEX_PREFIX + "*"),
            search["query"], k=k, sort=search.get("sort"),
            track_total_hits=False)
        hits = out["hits"]["hits"]
        ranked = [_hit_id(h) for h in hits]
        score = _rank_eval_score(mname, mspec, ranked, rmap)
        scores.append(score)
        details[rid] = {
            "metric_score": score,
            "unrated_docs": [
                {"_index": h.get("_index"), "_id": i}
                for h, i in zip(hits, ranked) if i not in rmap
            ],
            "hits": [
                {"hit": h, "rating": rmap.get(i)}
                for h, i in zip(hits, ranked)
            ],
        }
    return {
        "metric_score": sum(scores) / len(scores),
        "details": details,
    }


def _int_opt(container: dict, key: str, default: int) -> int:
    """An integer option or a named 400 — a malformed size/max_edits
    must never surface as an unhandled ValueError (a 500)."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

    v = container.get(key, default)
    if isinstance(v, bool) or not isinstance(v, (int, str)):
        raise DslError(f"{key} must be an integer")
    try:
        return int(v)
    except (TypeError, ValueError):
        raise DslError(f"{key} must be an integer") from None


def _run_suggest(df: "DataFrame", suggest: dict) -> dict[str, Any]:
    """Execute an ES ``suggest`` section — the term suggester
    (per-token corrections), the phrase suggester (r9, whole-phrase
    corrections via :func:`plans.search.suggest_phrase`), and the
    completion suggester in prefix, fuzzy (r10) and regex (r11)
    modes over the value dictionary (the FST-weight divergence is
    documented at the operator). One distributed job per suggester;
    the envelope mirrors ES: per-token entries for ``term``, one
    whole-text entry for ``phrase``, each with offset/length and
    scored options."""
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        DslError,
        token_spans,
    )
    from sql_database_to_elastic_datalake_spark.plans.search import (
        suggest_phrase,
        suggest_terms,
    )

    out: dict[str, Any] = {}
    for name, spec in suggest.items():
        if not isinstance(spec, dict):
            raise DslError(f"suggester {name!r} must be an object")
        if "completion" in spec:
            # completion takes `prefix` (not `text`): value-dictionary
            # prefix lookup ranked by doc frequency — the FST-weight
            # divergence is documented at the operator
            kinds = [k for k in spec
                     if k not in ("prefix", "regex", "text")]
            if kinds != ["completion"]:
                raise DslError(
                    f"suggester {name!r} mixes completion with "
                    f"{sorted(set(kinds) - {'completion'})}")
            body = spec["completion"]
            unknown = sorted(set(body) - {
                "field", "size", "skip_duplicates", "analyzer",
                "fuzzy", "regex"})
            if unknown:
                raise DslError(
                    f"unsupported completion suggester options: "
                    f"{unknown}")
            regex = spec.get("regex")
            # ES accepts the legacy "text" spelling as the prefix
            prefix = spec.get("prefix", spec.get("text"))
            if regex is not None and prefix is not None:
                raise DslError(
                    f"completion suggester {name!r} takes prefix OR "
                    "regex, not both")
            if regex is None and (
                    not isinstance(prefix, str) or not prefix):
                raise DslError(
                    f"completion suggester {name!r} requires a "
                    "prefix or regex")
            field = body.get("field")
            if not field:
                raise DslError(f"suggester {name!r} requires a field")
            from sql_database_to_elastic_datalake_spark.plans.search \
                import suggest_completion, suggest_completion_regex

            options = []
            if regex is not None:
                # r11: regex mode — whole-value Lucene-regexp match
                # over the value dictionary (the automaton-specific
                # operators stay named 400s in the translator). The
                # regex OPTIONS object under completion.regex
                # (flags / max_determinized_states) tunes Lucene's
                # automaton determinization; there is no automaton
                # here, so it is accepted-and-ignored like scroll's
                # keep_alive.
                if not isinstance(regex, str) or not regex:
                    raise DslError(
                        f"completion suggester {name!r} regex must "
                        "be a non-empty string")
                if body.get("fuzzy") is not None:
                    raise DslError(
                        "completion regex mode does not take fuzzy "
                        "(ES restriction)")
                ropts = body.get("regex")
                if ropts is not None:
                    bad = sorted(set(ropts) - {
                        "flags", "max_determinized_states"})
                    if bad:
                        raise DslError(
                            f"unsupported completion regex options: "
                            f"{bad}")
                if field in df.columns:
                    options = [
                        {"text": r["value"], "_score": float(r["freq"])}
                        for r in suggest_completion_regex(
                            df, field, regex,
                            size=_int_opt(body, "size", 5)).collect()
                    ]
                shown = regex
            elif field in df.columns:
                options = [
                    {"text": r["value"], "_score": float(r["freq"])}
                    for r in suggest_completion(
                        df, field, prefix,
                        size=_int_opt(body, "size", 5),
                        fuzzy=body.get("fuzzy")).collect()
                ]
                shown = prefix
            else:
                shown = prefix
            out[name] = [{
                "text": shown, "offset": 0, "length": len(shown),
                "options": options,
            }]
            continue
        if "text" not in spec:
            raise DslError(f"suggester {name!r} requires text")
        kinds = [k for k in spec if k != "text"]
        if kinds == ["phrase"]:
            body = spec["phrase"]
            unknown = sorted(set(body) - {
                "field", "size", "max_edits", "prefix_length",
                "min_doc_freq",
                # ES model-tuning keys with no twin in the
                # deterministic Laplace-bigram model — accepted and
                # ignored (suggest_phrase docstring divergence note)
                "gram_size", "real_word_error_likelihood",
                "confidence", "separator", "shard_size",
            })
            if unknown:
                raise DslError(
                    f"unsupported phrase suggester options: {unknown}")
            field = body.get("field")
            if not field:
                raise DslError(f"suggester {name!r} requires a field")
            text = str(spec["text"])
            spans = token_spans(text)
            options = []
            if field in df.columns and spans:
                options = [
                    {"text": r["phrase"], "score": r["score"]}
                    for r in suggest_phrase(
                        df, field, text,
                        size=_int_opt(body, "size", 3),
                        max_edits=_int_opt(body, "max_edits", 2),
                        prefix_length=_int_opt(
                            body, "prefix_length", 1),
                        min_doc_freq=_int_opt(body, "min_doc_freq", 1),
                        tokens=[t for t, _, _ in spans],
                    ).collect()
                ]
            out[name] = [{
                "text": text, "offset": 0, "length": len(text),
                "options": options,
            }]
            continue
        if kinds != ["term"]:
            raise DslError(
                f"unsupported suggester {kinds or 'missing'} under "
                f"{name!r} (term, phrase and completion are "
                "implemented)"
            )
        body = spec["term"]
        unknown = sorted(set(body) - {
            "field", "size", "max_edits", "prefix_length",
            "min_doc_freq", "suggest_mode", "sort",
            # execution-tuning keys, accepted-and-ignored
            "max_inspections", "shard_size", "string_distance",
        })
        if unknown:
            raise DslError(
                f"unsupported term suggester options: {unknown}")
        field = body.get("field")
        if not field:
            raise DslError(f"suggester {name!r} requires a field")
        text = str(spec["text"])
        # One analyzer pass (plans.es_dsl.token_spans, the shared
        # TOKEN_RE) yields BOTH the envelope entries (offsets index the
        # original request text — case folding like 'İ' → 'i̇' can
        # change lengths, so lowered text is never scanned) AND the
        # token list the Spark job scores, so an entry exists for every
        # token the job can return candidates for, by construction
        # (r8 ADVICE: deriving them from two patterns let them desync).
        spans = token_spans(text)
        rows = []
        if field in df.columns and spans:
            rows = suggest_terms(
                df, field, text,
                size=_int_opt(body, "size", 5),
                max_edits=_int_opt(body, "max_edits", 2),
                prefix_length=_int_opt(body, "prefix_length", 1),
                min_doc_freq=_int_opt(body, "min_doc_freq", 1),
                suggest_mode=str(body.get("suggest_mode", "missing")),
                tokens=[t for t, _, _ in spans],
            ).collect()
        by_token: dict[str, list] = {}
        for r in rows:
            by_token.setdefault(r["token"], []).append(
                {"text": r["candidate"], "score": r["score"],
                 "freq": r["freq"]})
        entries = []
        for tok, off, ln in spans:
            entries.append({
                "text": tok, "offset": off, "length": ln,
                "options": by_token.get(tok, []),
            })
        out[name] = entries
    return out


def _resolve_fields_option(fields_opt, columns: list[str]) -> list:
    """ES's ``fields`` retrieval option (the modern Discover default:
    ``"fields": [{"field": "*"}]``) → [(column, format)] per table.
    Entries are names or ``{"field": …, "format": …}`` objects;
    wildcard patterns expand against the table schema; a pattern
    matching nothing contributes nothing (like ES)."""
    import fnmatch as _fn

    from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

    if fields_opt is None:
        return []
    if not isinstance(fields_opt, list):
        raise DslError("fields must be a list")
    out: list[tuple[str, Any]] = []
    for e in fields_opt:
        if isinstance(e, str):
            name, fmt = e, None
        elif isinstance(e, dict) and e.get("field"):
            unknown = sorted(set(e) - {"field", "format",
                                       "include_unmapped"})
            if unknown:
                raise DslError(
                    f"unsupported fields-entry options: {unknown}")
            name, fmt = str(e["field"]), e.get("format")
        else:
            raise DslError(f"malformed fields entry {e!r}")
        if "*" in name or "?" in name:
            out.extend((c, fmt) for c in columns
                       if _fn.fnmatchcase(c, name))
        elif name in columns:
            out.append((name, fmt))
    seen = set()
    uniq = []
    for c, fmt in out:
        if c not in seen:
            seen.add(c)
            uniq.append((c, fmt))
    return uniq


def _render_field_value(v, fmt):
    """One ``fields`` value: dates render as ISO strings (ES's wire
    form) or per the entry's format; everything else passes through."""
    import datetime as _dt

    from sql_database_to_elastic_datalake_spark.plans.es_aggs import (
        _java_to_strftime,
    )

    if isinstance(v, _dt.datetime):
        if fmt is None or fmt in ("date_optional_time",
                                  "strict_date_optional_time"):
            return v.isoformat()
        if fmt == "epoch_millis":
            return int(v.replace(tzinfo=_dt.timezone.utc)
                       .timestamp() * 1000)
        return v.strftime(_java_to_strftime(str(fmt)))
    return v


def _hit(
    name: str, row, src_cols: list[str], hl_fields: list[str],
    hl_terms: dict[str, list[str]], pre: str, post: str,
    sort_getters: list | None = None,
    fields_out: list | None = None,
) -> dict:
    """One response hit: filtered _source, optional sort values,
    optional ``fields`` arrays, optional highlight snippets
    (driver-side, returned rows only)."""
    hit: dict[str, Any] = {
        "_index": name,
        "_source": {c: row[c] for c in src_cols},
    }
    if sort_getters is not None:
        hit["sort"] = [g(row) for g in sort_getters]
    if fields_out:
        # ES always wraps fields values in arrays and omits nulls
        fv = {
            c: [_render_field_value(row[c], fmt)]
            for c, fmt in fields_out if row[c] is not None
        }
        if fv:
            hit["fields"] = fv
    if hl_fields:
        from sql_database_to_elastic_datalake_spark.plans.search import (
            highlight_snippets,
        )

        hl = {}
        for f, fs, nof, bc, scan, sc, order in hl_fields:
            snips = highlight_snippets(
                row[f], hl_terms.get(f, []), pre, post, fs, nof,
                boundary_chars=bc, boundary_max_scan=scan,
                boundary_scanner=sc, order=order)
            if snips:
                hl[f] = snips
        if hl:
            hit["highlight"] = hl
    return hit


#: ES unmapped_type → the Spark cast for the null sort placeholder
_UNMAPPED_TYPES = {
    "keyword": "string", "text": "string", "long": "bigint",
    "integer": "int", "short": "smallint", "double": "double",
    "float": "float", "date": "timestamp", "boolean": "boolean",
}

#: per-clause sort options with implemented semantics; anything else
#: (format, numeric_type, nested, …) is a named 400 — same
#: no-silent-wrong-results posture as the agg-body gate
_SORT_CLAUSE_KEYS = {"order", "missing", "mode", "unmapped_type"}

#: array sort modes → driver-side value fold for the hit's `sort`
#: entry (the in-plan Column twin lives in _parse_sort)
_SORT_MODES = ("min", "max", "avg", "sum")


def _rewrite_geo_sort(df: "DataFrame", sort: list,
                      columns: list[str]) -> tuple["DataFrame", list]:
    """ES ``_geo_distance`` sort clauses (r13) → a materialized
    haversine Column on ``df`` plus a plain field clause, so the
    ordinary sort machinery (projection, TakeOrdered, hit ``sort``
    values, per-table merge) handles it unchanged. The hit's sort
    entry carries the distance in the requested ``unit`` (ES default:
    metres). Multi-point clauses / ``mode`` / plane distance are named
    400s; the geo field resolves via the same ``f_lat``/``f_lon`` or
    struct convention as the geo query leaves."""
    from sql_database_to_elastic_datalake_spark.functions.geo import (
        haversine_km,
        parse_distance_km,
    )
    from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
        _geo_field_cols,
        _parse_geo_point,
    )

    out_sort: list = []
    n = 0
    for s in sort:
        if not (isinstance(s, dict) and len(s) == 1
                and "_geo_distance" in s):
            out_sort.append(s)
            continue
        spec = s["_geo_distance"]
        if not isinstance(spec, dict):
            raise DslError("_geo_distance sort must be an object")
        opts = {k: v for k, v in spec.items()
                if k in ("order", "unit", "distance_type", "mode",
                         "ignore_unmapped")}
        if opts.get("distance_type", "arc") != "arc":
            raise DslError(
                "unsupported _geo_distance distance_type "
                f"{opts['distance_type']!r} (arc only)")
        if opts.get("mode") is not None:
            raise DslError(
                "_geo_distance sort mode is not supported "
                "(multi-valued geo fields are not modeled; each doc "
                "carries one point)")
        gfields = {k: v for k, v in spec.items() if k not in opts}
        if len(gfields) != 1:
            raise DslError("_geo_distance sort expects exactly one "
                           "geo field")
        field, point = next(iter(gfields.items()))
        plat, plon = _parse_geo_point(point)
        lat_c, lon_c = _geo_field_cols(field, F.col, columns,
                                       schema=df.schema)
        unit = opts.get("unit", "m")
        try:
            per_unit_km = parse_distance_km(f"1{unit}")
        except ValueError:
            raise DslError(f"unknown _geo_distance unit {unit!r}") \
                from None
        name = f"__geo_dist_{n}"
        n += 1
        df = df.withColumn(
            name,
            haversine_km(lat_c, lon_c, F.lit(plat), F.lit(plon))
            * F.lit(1.0 / per_unit_km))
        out_sort.append({name: {"order": opts.get("order", "asc")}})
    return df, out_sort


def _parse_sort(
    sort: list, columns: list[str], schema=None
) -> tuple[list[str], list, list]:
    """ES sort clauses → (base field names, ordered Columns, per-clause
    driver-side value getters for the hit ``sort`` array).

    Accepts the string form (``"field"``), the object form
    (``{"field": {"order": "desc"}}``) and the shorthand
    (``{"field": "desc"}``), plus the r7 option set:

    * ``missing``: ``"_first"`` / ``"_last"`` place null values; any
      other literal substitutes as the sort value (ES's custom-missing
      form) — a ``coalesce``, so the substituted value also appears in
      the hit's ``sort`` entry like ES;
    * ``mode``: ``min``/``max``/``avg``/``sum`` fold an array field to
      one sort value per doc (``median`` needs a per-row sort — named
      400). Pure column algebra (array_min/max, aggregate), no explode;
    * ``unmapped_type``: a field absent from this table sorts as null
      of that type instead of erroring — the index-pattern contract.

    Unknown fields without unmapped_type are the client's error."""
    from pyspark.sql.types import ArrayType

    from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

    fields: list[str] = []
    order_cols = []
    getters = []
    for s in sort:
        spec: dict = {}
        if isinstance(s, str):
            field, direction = s, "asc"
        elif isinstance(s, dict) and len(s) == 1:
            field, spec = next(iter(s.items()))
            if isinstance(spec, dict):
                unknown = sorted(set(spec) - _SORT_CLAUSE_KEYS)
                if unknown:
                    raise DslError(
                        f"unsupported sort options: {unknown} "
                        f"(supported: {sorted(_SORT_CLAUSE_KEYS)})"
                    )
                direction = spec.get("order", "asc")
            else:
                direction, spec = spec, {}
        else:
            raise DslError(f"malformed sort clause {s!r}")
        if direction not in ("asc", "desc"):
            raise DslError(f"unknown sort order {direction!r}")
        mapped = field in columns
        if not mapped and "unmapped_type" not in spec:
            raise DslError(f"unknown sort field {field!r}")
        if not mapped:
            ut = str(spec["unmapped_type"])
            if ut not in _UNMAPPED_TYPES:
                raise DslError(f"unknown unmapped_type {ut!r}")
            # a custom `missing` value substitutes even for a fully
            # unmapped field (ES sorts those docs by the substitute);
            # _first/_last only place the null constant
            miss = spec.get("missing")
            if miss is not None and miss not in ("_first", "_last"):
                c = F.lit(miss)
                getters.append(lambda row, _m=miss: _m)
            else:
                c = F.lit(None).cast(_UNMAPPED_TYPES[ut])
                getters.append(lambda row: None)
            order_cols.append(c.desc() if direction == "desc"
                              else c.asc())
            continue
        c = F.col(field)
        mode = spec.get("mode")
        if mode is not None:
            if mode not in _SORT_MODES:
                raise DslError(
                    f"unsupported sort mode {mode!r} "
                    f"(supported: {sorted(_SORT_MODES)})"
                )
            if schema is None or not isinstance(
                    schema[field].dataType, ArrayType):
                raise DslError(
                    f"sort mode on non-array field {field!r}")
            if mode == "min":
                c = F.array_min(c)

                def fold(v, _m=min):
                    return _m(v) if v else None
            elif mode == "max":
                c = F.array_max(c)

                def fold(v, _m=max):
                    return _m(v) if v else None
            elif mode == "sum":
                c = F.aggregate(c, F.lit(0).cast("double"),
                                lambda a, x: a + x.cast("double"))

                def fold(v):
                    return float(sum(v)) if v is not None else None
            else:
                c = F.aggregate(c, F.lit(0).cast("double"),
                                lambda a, x: a + x.cast("double")
                                ) / F.size(c)

                def fold(v):
                    return (sum(v) / len(v)) if v else None
            getters.append(
                lambda row, _f=field, _fold=fold: _fold(row[_f]))
        else:
            getters.append(lambda row, _f=field: row[_f])
        missing = spec.get("missing")
        if missing is not None and missing not in ("_first", "_last"):
            # custom missing value: substituted for sorting AND in the
            # hit's sort entry, like ES
            c = F.coalesce(c, F.lit(missing))
            g = getters.pop()
            getters.append(
                lambda row, _g=g, _m=missing:
                _m if _g(row) is None else _g(row))
            missing = None
        if missing == "_last":
            order_cols.append(c.desc_nulls_last() if direction == "desc"
                              else c.asc_nulls_last())
        elif missing == "_first":
            order_cols.append(
                c.desc_nulls_first() if direction == "desc"
                else c.asc_nulls_first())
        else:
            order_cols.append(c.desc() if direction == "desc"
                              else c.asc())
        fields.append(field)
    if not order_cols:
        raise DslError("sort must be a non-empty list")
    return fields, order_cols, getters


def _sort_directions(sort: list) -> list[tuple[bool, bool]]:
    """Per-clause (descending, nulls_first) flags for an ES sort list.
    Null placement mirrors Spark's defaults (nulls first ascending,
    last descending) unless the clause's ``missing`` option overrides
    it — the driver-side merge must agree with the per-table order."""
    out = []
    for s in sort:
        if isinstance(s, str):
            out.append((False, True))
            continue
        spec = next(iter(s.values()))
        d = (spec.get("order", "asc") if isinstance(spec, dict)
             else spec) == "desc"
        nf = not d
        if isinstance(spec, dict):
            if spec.get("missing") == "_first":
                nf = True
            elif spec.get("missing") == "_last":
                nf = False
        out.append((d, nf))
    return out


def _sort_has_options(sort: list) -> bool:
    """True when any clause carries beyond-order options (missing /
    mode / unmapped_type) — those change the comparison value, so the
    raw-column search_after cursor cannot honor them."""
    return any(
        isinstance(s, dict)
        and isinstance(next(iter(s.values())), dict)
        and set(next(iter(s.values()))) - {"order"}
        for s in sort
    )


def _merge_sorted_hits(hits: list[dict], descs: list) -> list[dict]:
    """Driver-side merge of per-table sorted pages into one global
    order (each page is at most k rows — the heavy sorting happened
    distributed, per table), honoring each clause's null placement."""
    import functools

    def cmp(a, b):
        for x, y, (d, nf) in zip(a["sort"], b["sort"], descs):
            if x is None and y is None:
                continue
            if x is None:
                return -1 if nf else 1
            if y is None:
                return 1 if nf else -1
            if x == y:
                continue
            if x < y:
                return 1 if d else -1
            return -1 if d else 1
        return 0

    return sorted(hits, key=functools.cmp_to_key(cmp))


def _as_like_list(v) -> list:
    """A more_like_this ``like`` value: string, object, or list."""
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _has_mlt_doc_refs(node) -> bool:
    """True when any more_like_this like entry is a document
    reference (dict) the API layer must resolve before compiling."""
    if isinstance(node, list):
        return any(_has_mlt_doc_refs(x) for x in node)
    if not isinstance(node, dict):
        return False
    for k, v in node.items():
        if k == "more_like_this" and isinstance(v, dict):
            if any(isinstance(e, dict)
                   for e in _as_like_list(v.get("like"))):
                return True
        elif _has_mlt_doc_refs(v):
            return True
    return False


def _has_terms_lookup(node) -> bool:
    """True when any terms query carries an {"index","id","path"}
    lookup spec the API layer must resolve before compiling."""
    if isinstance(node, list):
        return any(_has_terms_lookup(x) for x in node)
    if not isinstance(node, dict):
        return False
    for k, v in node.items():
        if k == "terms" and isinstance(v, dict):
            if any(isinstance(s, dict) and {"id", "path"} <= set(s)
                   for s in v.values()):
                return True
        elif _has_terms_lookup(v):
            return True
    return False


def _search_after_pred(sort: list, fields: list[str], after: list,
                       schema=None):
    """Direction-aware strict lexicographic "(row sort tuple) comes
    after (cursor tuple)" predicate over the RAW columns — deep pages
    prune before the sort, the point of ES's search_after.

    Date/timestamp cursor values arrive as the ISO-8601 strings the
    hit ``sort`` arrays carry on the wire (the app's JSON provider
    emits ISO, like ES) — with ``schema`` they are cast EXPLICITLY to
    the column's type, so the comparison never leans on string-vs-date
    implicit coercion (which under non-ANSI silently NULLs a
    malformed cursor into row loss)."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

    if not isinstance(after, list) or len(after) != len(fields):
        raise DslError(
            f"search_after must carry {len(fields)} values "
            f"(one per sort clause)"
        )
    descs = []
    for s in sort:
        if isinstance(s, str):
            descs.append(False)
        else:
            spec = next(iter(s.values()))
            d = spec.get("order", "asc") if isinstance(spec, dict) else spec
            descs.append(d == "desc")
    pred = F.lit(False)
    for field, value, desc in zip(reversed(fields), reversed(after),
                                  reversed(descs)):
        c, a = F.col(field), F.lit(value)
        if schema is not None and isinstance(value, str) \
                and field in schema.fieldNames():
            dt = schema[field].dataType
            if isinstance(dt, (DateType, TimestampType,
                               TimestampNTZType)):
                a = a.cast(dt)
        strict = (c < a) if desc else (c > a)
        pred = strict | ((c == a) & pred)
    return pred


#: Route-segment plural → entity type. ``rstrip("s")`` is NOT a
#: singularizer: "statuses".rstrip("s") == "statuse" and
#: "data-sources" needs the dash mapped — both reference routes
#: (/root/reference/src/routes/status_routes.py,
#: data_source_routes.py) would 404 under the naive strip.
ROUTE_ENTITY = {
    "tickets": "ticket",
    "users": "user",
    "data-sources": "data_source",
    "modules": "module",
    "statuses": "status",
    "labels": "label",
}


def create_app(service: LakeService, entities: dict[str, "DataFrame"] | None = None):
    """Optional Flask app exposing the reference's route shape.

    ``entities`` (source-table name → DataFrame, the same mapping the
    CLI's sync-entities loads) enables the point re-sync routes
    (reference I1/I2: POST /<entity>/sync); without it those routes
    return 503 rather than silently falling through to ingest.
    """
    from flask import Flask, jsonify, request
    from flask.json.provider import DefaultJSONProvider

    class _IsoJSONProvider(DefaultJSONProvider):
        """Flask's default provider renders date/datetime values as
        RFC-1123 HTTP-dates ('Fri, 05 Jan 2024 00:00:00 GMT'). A
        PIT/search_after client echoes a hit's ``sort`` values back
        verbatim, and an HTTP-date string cannot cast against the
        DATE/TIMESTAMP column it came from — page 2 of a drain over a
        date sort key 500s (or silently loses rows under non-ANSI).
        ES puts ISO-8601 on the wire; so does this app. The sep=' '
        form matches scroll's token serializer (``_jsonable``)."""

        @staticmethod
        def default(o):
            if isinstance(o, datetime):
                return o.isoformat(sep=" ")
            if isinstance(o, date):
                return o.isoformat()
            return DefaultJSONProvider.default(o)

    app = Flask("sql_database_to_elastic_datalake_spark")
    app.json = _IsoJSONProvider(app)

    def _etype(segment):
        return ROUTE_ENTITY.get(segment, segment.rstrip("s"))

    @app.route("/health", methods=["GET"])
    def health():
        return jsonify(service.health()), 200

    @app.route("/<entity>/sync", methods=["POST"])
    def resync(entity):
        # static-vs-converter precedence puts this ahead of
        # /<entity>/<entity2>, matching the reference's per-entity
        # /sync blueprints (ticket_routes.py:212, user_routes.py:190)
        if entities is None:
            return jsonify({"error": "no source tables configured"}), 503
        # an empty body yields None from get_json even with force=True —
        # treat that as {} so the missing-id message applies; a valid
        # NON-OBJECT JSON body (array/string/number) is a DIFFERENT
        # client error and gets named as such rather than being coerced
        # into a misleading "missing id"
        body = request.get_json(force=True, silent=True)
        if body is None:
            body = {}
        elif not isinstance(body, dict):
            return jsonify({"error": "body must be a JSON object"}), 400
        etype = _etype(entity)
        indexed_at = body.get("indexed_at") or _utcnow_iso()
        eid = body.get("id") or body.get(f"{etype}_id")
        if eid is None:
            return jsonify({"error": "missing id"}), 400
        # a partially populated --entities-dir must be a clean
        # client-facing 503 listing what's absent, not a KeyError->500
        # inside the sync plan
        required = (
            RESYNC_REQUIRED_TABLES
            if etype == "ticket"
            else [ENTITY_SOURCE_TABLES.get(etype)]
        )
        missing = [t for t in required if t is not None and t not in entities]
        if missing:
            return (
                jsonify({"error": "missing source tables",
                         "missing": sorted(missing)}),
                503,
            )
        if etype == "ticket":
            out = service.resync_ticket(entities, str(eid), indexed_at)
        else:
            out = resync_entity(service, entities, etype, str(eid), indexed_at)
        return jsonify(out), out.get("status_code", 200)

    @app.route("/<entity>/<entity2>", methods=["POST"])
    def ingest_single(entity, entity2):
        out = service.ingest(_etype(entity), request.get_json(force=True))
        return jsonify(out), out.get("status_code", 200)

    @app.route("/<entity>/batch", methods=["POST"])
    def ingest_batch(entity):
        out = service.ingest(_etype(entity), request.get_json(force=True))
        return jsonify(out), out.get("status_code", 200)

    # The reference registers each blueprint's routes UNDER a
    # url_prefix that repeats the segment ('/tickets' + '/tickets/...'
    # — server.py:33-38), so its real wire paths are DOUBLED:
    # /tickets/tickets/batch, /users/users/sync. The clean paths above
    # are the fixed form; these literal aliases keep clients built
    # against the reference's actual paths working unmodified.
    @app.route("/<entity>/<entity2>/batch", methods=["POST"])
    def ingest_batch_doubled(entity, entity2):
        if entity != entity2:
            return jsonify({"error": "not found"}), 404
        return ingest_batch(entity)

    @app.route("/<entity>/<entity2>/sync", methods=["POST"])
    def resync_doubled(entity, entity2):
        if entity != entity2:
            return jsonify({"error": "not found"}), 404
        return resync(entity)

    #: every top-level /search/advanced body key with implemented
    #: semantics; anything else is rejected (see the route comment)
    _ADVANCED_BODY_KEYS = {
        "table", "query", "k", "size", "from", "sort", "search_after",
        "aggs", "aggregations", "_source", "highlight",
        "post_filter", "collapse", "track_total_hits", "fields",
        "suggest", "knn", "docvalue_fields", "scroll",
        "runtime_mappings", "script_fields", "pit",
        "indices_boost", "rescore", "min_score",
    }

    def _page_size(body):
        # "k" or ES's "size" select the page; ES's default of 10
        # applies; a malformed value is the client's error, not a 500
        try:
            k = int(body.get("k", body.get("size", 10)))
        except (TypeError, ValueError):
            return None
        return k if k >= 0 else None

    def _wire_envelope(out: dict) -> dict:
        """Reference-parity response keys on top of the engine's ES
        envelope. The reference returns ``results['hits']`` UNWRAPPED
        (top-level ``total``/``max_score``/``hits``,
        src/search_api.py:36,46); the engine nests the full ES shape
        under ``hits``. ``total`` and ``max_score`` are mirrored to the
        top level so a reference client reading ``resp["total"]
        ["value"]`` works unchanged. DOCUMENTED DIVERGENCE: the
        ``hits`` key itself cannot be both the reference's list and the
        ES object — it stays the ES object (the list is at
        ``resp["hits"]["hits"]``), since one key can't carry two
        shapes and the ES form is the superset."""
        wire = dict(out)
        hits = out.get("hits", {}).get("hits", [])
        scores = [h["_score"] for h in hits
                  if isinstance(h, dict) and h.get("_score") is not None]
        wire["total"] = out.get("hits", {}).get("total")
        wire["max_score"] = max(scores) if scores else None
        return wire

    @app.route("/search", methods=["POST"])
    def search():
        body = request.get_json(force=True)
        k = _page_size(body)
        if k is None:
            return jsonify({"error": "k/size must be a non-negative integer"}), 400
        # the reference's request key is search_term (+fields,
        # src/search_api.py:19-21); "query" stays accepted as the
        # engine's original spelling
        term = body.get("query", body.get("search_term"))
        if term is None:
            return jsonify(
                {"error": "missing query/search_term"}), 400
        # ES's offset idiom works WITHOUT a sort here: the ranked
        # path's _score order is total (r7 — it used to be rejected)
        try:
            from_ = int(body.get("from", 0))
            if from_ < 0:
                raise ValueError
        except (TypeError, ValueError):
            return jsonify(
                {"error": "from must be a non-negative integer"}), 400
        ms = body.get("min_score")
        if ms is not None and not isinstance(ms, (int, float)) \
                or isinstance(ms, bool):
            return jsonify(
                {"error": "min_score must be a number"}), 400
        try:
            return jsonify(_wire_envelope(
                service.search(term, body.get("tables"), k=k,
                               fields=body.get("fields"), from_=from_,
                               min_score=ms,
                               rescore=body.get("rescore")),
            )), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/advanced", methods=["POST"])
    def advanced():
        return _advanced_body(request.get_json(force=True))

    def _advanced_body(body):
        """The /search/advanced body pipeline — shared verbatim by the
        template route (r11): a rendered template IS an advanced body."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        k = _page_size(body)
        if k is None:
            return jsonify({"error": "k/size must be a non-negative integer"}), 400
        # the reference forwards this body VERBATIM to ES, so every
        # top-level key a saved query carries has live semantics
        # there. A key this engine does not implement must 400, not
        # vanish: silently ignoring `from` returned page 1 forever
        # (r5 verdict #1) — silent wrong results are worse than an
        # error.
        unknown = sorted(set(body) - _ADVANCED_BODY_KEYS)
        if unknown:
            return jsonify({"error":
                            f"unsupported request keys: {unknown} "
                            f"(supported: {sorted(_ADVANCED_BODY_KEYS)})"}), 400
        try:
            from_ = int(body.get("from", 0))
        except (TypeError, ValueError):
            return jsonify({"error": "from must be a non-negative integer"}), 400
        if body.get("scroll") is not None:
            # scroll TTL accepted-and-ignored: the returned _scroll_id
            # is a stateless continuation token (scroll_search docs)
            for bad in ("from", "search_after", "collapse",
                        "highlight", "knn", "post_filter",
                        "runtime_mappings", "script_fields",
                        "fields", "docvalue_fields", "suggest",
                        # a body carrying BOTH cursor mechanisms is a
                        # client bug — reject, never silently prefer
                        # one (the reject-instead-of-drop policy)
                        "pit"):
                if body.get(bad):
                    return jsonify({"error":
                                    f"scroll is not supported with "
                                    f"{bad} (the token manages the "
                                    "cursor)"}), 400
            try:
                return jsonify(_wire_envelope(service.scroll_search(
                    table=body.get("table"),
                    dsl=body.get("query", {"match_all": {}}),
                    size=k, sort=body.get("sort"),
                    source=body.get("_source"),
                    aggs=body.get("aggs") or body.get("aggregations"),
                ))), 200
            except DslError as ex:
                return jsonify({"error": str(ex)}), 400
        if body.get("pit") is not None:
            # ES 8.x PIT + search_after: the pit carries the index (no
            # index in the path → no "table" key), the caller manages
            # the search_after cursor from each page's last hit. The
            # sort is totalized with the table's tie-break columns
            # (ES's implicit _shard_doc equivalent).
            if body.get("table"):
                return jsonify({"error":
                                "pit is not supported with table "
                                "(the pit id carries the table, like "
                                "ES's no-index-in-path rule)"}), 400
            for bad in ("from", "collapse", "knn"):
                if body.get(bad):
                    return jsonify({"error":
                                    f"pit is not supported with "
                                    f"{bad} (use search_after "
                                    "paging)"}), 400
            try:
                table = service.resolve_pit(body["pit"])
                out = service.advanced_search(
                    table, body.get("query", {"match_all": {}}), k=k,
                    aggs=body.get("aggs") or body.get("aggregations"),
                    sort=service.pit_total_sort(
                        table, body.get("sort")),
                    search_after=body.get("search_after"),
                    source=body.get("_source"),
                    highlight=body.get("highlight"),
                    post_filter=body.get("post_filter"),
                    track_total_hits=body.get("track_total_hits"),
                    fields_opt=(
                        ((body.get("fields") or [])
                         + (body.get("docvalue_fields") or []))
                        or None),
                    suggest=body.get("suggest"),
                    runtime_mappings=body.get("runtime_mappings"),
                    script_fields=body.get("script_fields"),
                )
                # ES returns the (possibly refreshed) pit_id on every
                # page; stateless tokens never change
                pid = body["pit"]
                out["pit_id"] = (pid.get("id")
                                 if isinstance(pid, dict) else pid)
                return jsonify(_wire_envelope(out)), 200
            except NotFoundError as ex:
                return jsonify({"error": str(ex)}), 404
            except DslError as ex:
                return jsonify({"error": str(ex)}), 400
        try:
            return jsonify(_wire_envelope(
                service.advanced_search(
                    # the reference always queries the index pattern
                    # (src/search_api.py:40-44); an explicit table (or
                    # narrower pattern) is the engine's extension
                    body.get("table", INDEX_PREFIX + "*"),
                    # ES defaults an omitted query to match_all —
                    # aggs-only bodies are a standard Kibana shape
                    body.get("query", {"match_all": {}}), k=k,
                    aggs=body.get("aggs") or body.get("aggregations"),
                    sort=body.get("sort"),
                    search_after=body.get("search_after"),
                    from_=from_,
                    source=body.get("_source"),
                    highlight=body.get("highlight"),
                    post_filter=body.get("post_filter"),
                    collapse=body.get("collapse"),
                    track_total_hits=body.get("track_total_hits"),
                    # docvalue_fields is the pre-8.x spelling of the
                    # fields option — same {field, format} entries,
                    # same hit["fields"] arrays (what older Kibana
                    # sends by default); both merge into one list
                    fields_opt=(
                        ((body.get("fields") or [])
                         + (body.get("docvalue_fields") or []))
                        or None),
                    suggest=body.get("suggest"),
                    knn=body.get("knn"),
                    runtime_mappings=body.get("runtime_mappings"),
                    script_fields=body.get("script_fields"),
                    indices_boost=body.get("indices_boost"),
                    rescore=body.get("rescore"),
                    min_score=body.get("min_score"),
                )
            )), 200
        except NotFoundError as ex:
            # r13 late: index-based percolation references a concrete
            # table/doc — a dangling reference is ES's 404
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            # a malformed/unsupported DSL tree is the CALLER's error —
            # the reference returns ES's 400 for these, not a 500
            return jsonify({"error": str(ex)}), 400

    def _resolve_template(body):
        """(source, params) from a template request body — exactly one
        of inline ``source`` / stored ``id``; unknown keys are named
        400s (the reject-instead-of-drop policy)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            DslError,
        )

        if not isinstance(body, dict):
            raise DslError("template request must be a JSON object")
        unknown = sorted(set(body) - {"source", "id", "params", "table"})
        if unknown:
            raise DslError(
                f"unsupported template request keys: {unknown} "
                "(supported: source | id, params, table)")
        has_src = body.get("source") is not None
        has_id = body.get("id") is not None
        if has_src == has_id:
            raise DslError(
                "template request needs exactly one of inline "
                "'source' or stored-template 'id'")
        if has_id:
            sid = body["id"]
            tpl = service.stored_templates.get(sid)
            if tpl is None:
                raise NotFoundError(f"no stored template {sid!r}")
            source = tpl["source"]
        else:
            source = body["source"]
        return source, body.get("params")

    @app.route("/search/template", methods=["POST"])
    def search_template():
        """ES ``_search/template`` (r11, verdict #5): render the
        mustache template, then run the result through the ordinary
        advanced-search pipeline — the rendered body obeys every
        advanced-body rule (unknown keys 400, cursor rules, …)."""
        from sql_database_to_elastic_datalake_spark.plans.templates import (
            render_search_template,
        )

        body = request.get_json(force=True)
        try:
            source, params = _resolve_template(body)
            rendered = render_search_template(
                source, params, partials=service.stored_templates)
        except NotFoundError as ex:
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400
        # the engine's table extension rides the OUTER request (ES
        # carries the index in the path); the template may also set it
        if body.get("table") is not None and "table" not in rendered:
            rendered["table"] = body["table"]
        return _advanced_body(rendered)

    @app.route("/render/template", methods=["POST"])
    def render_template():
        """ES ``_render/template``: the rendered body without running
        it — the template-debugging endpoint."""
        from sql_database_to_elastic_datalake_spark.plans.templates import (
            render_search_template,
        )

        body = request.get_json(force=True)
        try:
            source, params = _resolve_template(body)
            rendered = render_search_template(
                source, params, partials=service.stored_templates)
        except NotFoundError as ex:
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400
        return jsonify({"template_output": rendered}), 200

    @app.route("/scripts/<sid>", methods=["PUT", "POST"])
    def put_script(sid):
        from sql_database_to_elastic_datalake_spark.plans.templates import (
            validate_stored_script,
        )

        try:
            service.stored_templates[sid] = validate_stored_script(
                request.get_json(force=True))
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400
        return jsonify({"acknowledged": True}), 200

    @app.route("/scripts/<sid>", methods=["GET"])
    def get_script(sid):
        tpl = service.stored_templates.get(sid)
        if tpl is None:
            return jsonify({"_id": sid, "found": False}), 404
        return jsonify({"_id": sid, "found": True, "script": tpl}), 200

    @app.route("/scripts/<sid>", methods=["DELETE"])
    def delete_script(sid):
        if sid not in service.stored_templates:
            return jsonify({"error": f"no stored template {sid!r}"}), 404
        del service.stored_templates[sid]
        return jsonify({"acknowledged": True}), 200

    @app.route("/percolator/<pid>", methods=["PUT", "POST"])
    def put_percolator(pid):
        """Store a percolator query (r13): the ES idiom of indexing a
        doc with a percolator-typed ``query`` field, re-expressed as a
        service-local namespace. The tree is validated through the
        compiler AT STORE TIME (schema-free: unknown kinds/options 400
        now, missing fields resolve NULL at match time)."""
        body = request.get_json(force=True)
        if not isinstance(body, dict) or not isinstance(
                body.get("query"), dict):
            return jsonify({"error":
                            "percolator body must carry a query "
                            "object"}), 400
        try:
            compile_dsl(body["query"],
                        field_resolver=lambda f:
                        F.lit(None).cast("string"))
        except GeoResolutionError:
            # r14 (ADVICE): geo leaves are TOLERATED at store time —
            # whether the field resolves to a geo_point is a property
            # of the table percolated against, unknown here; match
            # time still raises the named 400 on a non-geo target
            pass
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400
        service.percolator_queries[pid] = body["query"]
        return jsonify({"acknowledged": True, "_id": pid}), 200

    @app.route("/percolator/<pid>", methods=["GET"])
    def get_percolator(pid):
        q = service.percolator_queries.get(pid)
        if q is None:
            return jsonify({"_id": pid, "found": False}), 404
        return jsonify({"_id": pid, "found": True,
                        "query": q}), 200

    @app.route("/percolator/<pid>", methods=["DELETE"])
    def delete_percolator(pid):
        if pid not in service.percolator_queries:
            return jsonify({"error": f"no percolator query "
                            f"{pid!r}"}), 404
        del service.percolator_queries[pid]
        return jsonify({"acknowledged": True}), 200

    @app.route("/search/termvectors", methods=["POST"])
    def termvectors_route():
        """ES ``_termvectors``: one doc's per-field term vectors with
        optional corpus statistics (service.termvectors docstring)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            DslError,
        )

        body = request.get_json(force=True)
        if not isinstance(body, dict):
            return jsonify({"error": "body must be a JSON object"}), 400
        unknown = sorted(set(body) - {
            "table", "id", "fields", "term_statistics",
            "field_statistics"})
        if unknown:
            # doc (artificial document) / per_field_analyzer /
            # offsets / payloads toggles are named here, not dropped
            return jsonify({"error":
                            f"unsupported termvectors keys: {unknown} "
                            "(supported: table, id, fields, "
                            "term_statistics, field_statistics)"}), 400
        if not body.get("table") or body.get("id") is None:
            return jsonify({"error":
                            "termvectors requires table and id"}), 400
        try:
            return jsonify(service.termvectors(
                body["table"], body["id"],
                fields=body.get("fields"),
                term_statistics=bool(body.get("term_statistics")),
                field_statistics=body.get("field_statistics", True)
                is not False,
            )), 200
        except NotFoundError as ex:
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/mtermvectors", methods=["POST"])
    def mtermvectors_route():
        """ES ``_mtermvectors``: the batch form — ``ids`` against a
        request table, or ``docs`` entries carrying ``_index``/
        ``_id`` (+ per-entry fields/term_statistics). Per-entry
        errors stay inline (the multi-API contract)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            DslError,
        )

        body = request.get_json(force=True)
        if not isinstance(body, dict):
            return jsonify({"error": "body must be a JSON object"}), 400
        unknown = sorted(set(body) - {
            "table", "ids", "docs", "fields", "term_statistics",
            "field_statistics"})
        if unknown:
            return jsonify({"error":
                            f"unsupported mtermvectors keys: "
                            f"{unknown}"}), 400
        if (body.get("ids") is None) == (body.get("docs") is None):
            return jsonify({"error":
                            "mtermvectors takes ids or docs, not "
                            "both/neither"}), 400
        if body.get("ids") is not None:
            if not body.get("table"):
                return jsonify({"error":
                                "mtermvectors ids form requires a "
                                "table"}), 400
            entries = [{"_index": body["table"], "_id": i}
                       for i in body["ids"]]
        else:
            entries = body["docs"]
            if not isinstance(entries, list):
                return jsonify({"error": "docs must be a list"}), 400
        out = []
        for ent in entries:
            if not isinstance(ent, dict) or ent.get("_id") is None:
                out.append({"error": "each entry needs an _id"})
                continue
            table = ent.get("_index", body.get("table"))
            if not table:
                out.append({"_id": str(ent["_id"]),
                            "error": "entry has no _index/table"})
                continue
            try:
                out.append(service.termvectors(
                    table, ent["_id"],
                    fields=ent.get("fields", body.get("fields")),
                    term_statistics=bool(
                        ent.get("term_statistics",
                                body.get("term_statistics"))),
                    field_statistics=ent.get(
                        "field_statistics",
                        body.get("field_statistics", True))
                    is not False,
                ))
            except (NotFoundError, DslError) as ex:
                out.append({"_index": table, "_id": str(ent["_id"]),
                            "error": str(ex)})
        return jsonify({"docs": out}), 200

    @app.route("/search/rank_eval", methods=["POST"])
    def rank_eval_route():
        """ES ``_rank_eval`` (r11): run each rated request, score the
        ranked page with the chosen metric, return per-request detail
        + the mean — the search-quality tuning endpoint
        (precision/recall@k, MRR, (n)DCG, ERR). Metrics are computed
        driver-side over the page's ids (bounded by k); each request
        is ONE ordinary ranked search."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            DslError,
        )

        body = request.get_json(force=True)
        try:
            out = _run_rank_eval(service, body)
        except NotFoundError as ex:
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400
        return jsonify(out), 200

    @app.route("/search/count", methods=["POST"])
    def count_route():
        """ES ``_count``: the query's exact match count, no hits.
        One count job per table with the predicate pushed to the
        scan — the same cost ES pays. Runtime fields are honored
        (a Kibana count over a runtime filter works)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"table", "query",
                                      "runtime_mappings"})
        if unknown:
            return jsonify({"error":
                            f"unsupported count keys: {unknown}"}), 400
        try:
            out = service.advanced_search(
                body.get("table", INDEX_PREFIX + "*"),
                body.get("query", {"match_all": {}}),
                k=0, track_total_hits=True,
                runtime_mappings=body.get("runtime_mappings"))
            return jsonify({
                "count": out["hits"]["total"]["value"],
                # the official client reads _shards for success gating
                "_shards": {"total": 1, "successful": 1,
                            "skipped": 0, "failed": 0},
            }), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/delete_by_query", methods=["POST"])
    def delete_by_query_route():
        """ES ``_delete_by_query`` (service.delete_by_query). ``query``
        is REQUIRED like ES's (an unscoped bulk delete must be said
        out loud — that is what the snapshot write mode is for);
        ``conflicts`` abort/proceed is accepted-and-ignored (a
        snapshot lake rewrite has no concurrent versioning to
        conflict with)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"table", "index", "query",
                                      "conflicts"})
        if unknown:
            return jsonify({"error": "unsupported delete_by_query "
                                     f"keys: {unknown}"}), 400
        table = body.get("table") or body.get("index")
        if not table:
            return jsonify({"error": "delete_by_query requires a "
                                     "table/index"}), 400
        if body.get("conflicts") not in (None, "abort", "proceed"):
            return jsonify({"error": "conflicts must be abort or "
                                     "proceed"}), 400
        if not isinstance(body.get("query"), dict):
            return jsonify({"error": "delete_by_query requires a "
                                     "query object"}), 400
        try:
            return jsonify(service.delete_by_query(
                table, body["query"])), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/update_by_query", methods=["POST"])
    def update_by_query_route():
        """ES ``_update_by_query`` (service.update_by_query): painless
        assignment subset over the matched set; no ``query`` means
        match_all, like ES."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"table", "index", "query",
                                      "script", "conflicts"})
        if unknown:
            return jsonify({"error": "unsupported update_by_query "
                                     f"keys: {unknown}"}), 400
        table = body.get("table") or body.get("index")
        if not table:
            return jsonify({"error": "update_by_query requires a "
                                     "table/index"}), 400
        if body.get("conflicts") not in (None, "abort", "proceed"):
            return jsonify({"error": "conflicts must be abort or "
                                     "proceed"}), 400
        q = body.get("query")
        if q is not None and not isinstance(q, dict):
            return jsonify({"error": "query must be an object"}), 400
        try:
            return jsonify(service.update_by_query(
                table, q, body.get("script"))), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    #: completed async searches kept for the GET/DELETE lifecycle
    #: (service-local, like the stored-scripts namespace)
    async_store: dict[str, dict] = {}

    @app.route("/search/async", methods=["POST"])
    def async_search_route():
        """ES ``_async_search``: Kibana's default search mode. This
        engine completes every search within the request (there is no
        shard fan-out to wait on), so the response is always
        ``is_running: false`` — exactly ES's behavior when the search
        beats ``wait_for_completion_timeout`` (accepted-and-ignored
        along with ``batched_reduce_size``, execution tuning with
        nothing to tune here). ``keep_on_completion: true`` stores the
        completed response under an id for the GET/DELETE lifecycle;
        ES's partial-results states never occur (documented: they
        require mid-flight reads of a distributed reduce)."""
        import time as _time
        import uuid as _u

        body = dict(request.get_json(force=True))
        keep = body.pop("keep_on_completion", False)
        body.pop("wait_for_completion_timeout", None)
        body.pop("batched_reduce_size", None)
        keep_alive = body.pop("keep_alive", None)
        if not isinstance(keep, bool):
            return jsonify({"error": "keep_on_completion must be a "
                                     "boolean"}), 400
        resp = _advanced_body(body)
        payload, status = (resp if isinstance(resp, tuple)
                           else (resp, 200))
        if status != 200:
            return payload, status
        now = int(_time.time() * 1000)
        ttl = 5 * 60_000 if keep_alive is None \
            else _parse_keep_alive(keep_alive)
        if ttl is None:
            return jsonify({"error": "keep_alive must look like 5m/"
                                     "30s/1h"}), 400
        env = {
            "is_partial": False, "is_running": False,
            "start_time_in_millis": now,
            "expiration_time_in_millis": now + ttl,
            "response": payload.get_json(),
        }
        if keep:
            sid = _u.uuid4().hex
            async_store[sid] = env
            # same bounded-store rule as the SQL cursors: a client
            # that stores and never collects must not grow the
            # service without limit — oldest evicted past the cap
            while len(async_store) > 100:
                del async_store[next(iter(async_store))]
            env = {"id": sid, **env}
        return jsonify(env), 200

    @app.route("/search/async/<sid>", methods=["GET"])
    def async_search_get(sid):
        import time as _time

        env = async_store.get(sid)
        if env is not None and \
                env["expiration_time_in_millis"] < _time.time() * 1000:
            # keep_alive enforcement is LAZY (no background reaper in a
            # request-driven service): an expired entry 404s exactly
            # like ES's reaped one, and drops on touch
            del async_store[sid]
            env = None
        if env is None:
            return jsonify({"error": f"async search {sid!r} not "
                                     "found"}), 404
        return jsonify({"id": sid, **env}), 200

    @app.route("/search/async/<sid>", methods=["DELETE"])
    def async_search_delete(sid):
        if sid not in async_store:
            return jsonify({"error": f"async search {sid!r} not "
                                     "found"}), 404
        del async_store[sid]
        return jsonify({"acknowledged": True}), 200

    #: open SQL cursors: materialized remainder pages (the budget cap
    #: bounds what a cursor can hold; draining is deterministic
    #: because the rows were collected ONCE — re-running offset pages
    #: would let a shuffle reorder them between requests)
    sql_cursors: dict[str, dict] = {}

    @app.route("/search/mapping", methods=["GET", "POST"])
    def mapping_route():
        """ES ``GET /{index}/_mapping``: the index's field mappings,
        derived from the parquet schema through the SAME ladder the
        live-cluster index codegen uses (sinks/bulk_export.
        create_index_body — one source of truth for wire mappings).
        ``table`` supports the usual wildcard; response keyed per
        index like ES."""
        import fnmatch as _fn
        import json as _json

        from sql_database_to_elastic_datalake_spark.sinks.bulk_export import (
            create_index_body,
        )

        body = request.get_json(silent=True) or {}
        table = request.args.get("table") or body.get("table") \
            or body.get("index")
        if not table:
            return jsonify({"error": "mapping requires a table/index "
                                     "(query param or body)"}), 400
        if "*" in table or "?" in table:
            names = sorted(
                d for d in os.listdir(service.lake_dir)
                if _fn.fnmatchcase(d, table)
                and os.path.isdir(os.path.join(service.lake_dir, d)))
        else:
            names = [table]
        out = {}
        for name in names:
            p = os.path.join(service.lake_dir, name)
            if not path_exists(service.spark, p):
                return jsonify({"error": f"unknown table {name!r}"}), 404
            df = service.spark.read.parquet(p)
            out[name] = _json.loads(create_index_body(df))
        return jsonify(out), 200

    @app.route("/search/stats", methods=["GET", "POST"])
    def stats_route():
        """ES ``GET /{index}/_stats`` (the docs/store core Kibana's
        index management reads): per-table document count (one
        metadata-cheap count job) and on-disk byte/file totals from
        the parquet directory listing. Wildcard tables like
        _mapping."""
        import fnmatch as _fn

        body = request.get_json(silent=True) or {}
        table = request.args.get("table") or body.get("table") \
            or body.get("index") or "*"
        if "*" in table or "?" in table:
            names = sorted(
                d for d in os.listdir(service.lake_dir)
                if _fn.fnmatchcase(d, table)
                and os.path.isdir(os.path.join(service.lake_dir, d)))
        else:
            names = [table]
        indices = {}
        total_docs, total_bytes = 0, 0
        for name in names:
            p = os.path.join(service.lake_dir, name)
            if not path_exists(service.spark, p):
                return jsonify({"error": f"unknown table {name!r}"}), 404
            n = service.spark.read.parquet(p).count()
            size = files = 0
            for root, _dirs, fnames in os.walk(p):
                for fn in fnames:
                    if not fn.startswith(("_", ".")):
                        size += os.path.getsize(os.path.join(root, fn))
                        files += 1
            total_docs += n
            total_bytes += size
            indices[name] = {
                "primaries": {
                    "docs": {"count": n, "deleted": 0},
                    "store": {"size_in_bytes": size,
                              "file_count": files},
                },
            }
        return jsonify({
            "_all": {"primaries": {
                "docs": {"count": total_docs, "deleted": 0},
                "store": {"size_in_bytes": total_bytes},
            }},
            "indices": indices,
        }), 200

    @app.route("/cat/indices", methods=["GET"])
    def cat_indices_route():
        """ES ``GET _cat/indices`` (r12 — the ops-tooling listing
        curl/scripts poll): one row per lake table with docs.count and
        store.size. ``format=json`` returns ES's JSON rows; the
        default text format returns the whitespace-aligned columns
        ES prints. ``index`` query param filters by pattern. Health/
        status are constant green/open (no shard states to report);
        uuid/pri/rep are the lake's honest equivalents."""
        import fnmatch as _fn

        pat = request.args.get("index") or "*"
        fmt = request.args.get("format", "text")
        if fmt not in ("text", "json"):
            return jsonify({"error":
                            "format must be text or json"}), 400
        names = sorted(
            d for d in os.listdir(service.lake_dir)
            if _fn.fnmatchcase(d, pat)
            and os.path.isdir(os.path.join(service.lake_dir, d)))
        rows = []
        for name in names:
            p = os.path.join(service.lake_dir, name)
            n = service.spark.read.parquet(p).count()
            size = 0
            for root, _dirs, fnames in os.walk(p):
                for fn in fnames:
                    if not fn.startswith(("_", ".")):
                        size += os.path.getsize(os.path.join(root, fn))
            rows.append({
                "health": "green", "status": "open", "index": name,
                "uuid": hashlib.md5(name.encode()).hexdigest()[:22],
                "pri": "1", "rep": "0",
                "docs.count": str(n), "docs.deleted": "0",
                "store.size": f"{size}b",
                "pri.store.size": f"{size}b",
            })
        if fmt == "json":
            return jsonify(rows), 200
        cols = ["health", "status", "index", "uuid", "pri", "rep",
                "docs.count", "docs.deleted", "store.size",
                "pri.store.size"]
        widths = {c: max([len(c)] + [len(r[c]) for r in rows])
                  for c in cols}
        lines = [" ".join(r[c].ljust(widths[c]) for c in cols).rstrip()
                 for r in rows]
        return "\n".join(lines) + ("\n" if lines else ""), 200, {
            "Content-Type": "text/plain; charset=UTF-8"}

    @app.route("/cat/count", methods=["GET"])
    def cat_count_route():
        """ES ``GET _cat/count[?index=pattern]``: epoch, timestamp,
        total doc count — the monitoring one-liner."""
        import fnmatch as _fn
        import time as _time

        pat = request.args.get("index") or "*"
        fmt = request.args.get("format", "text")
        if fmt not in ("text", "json"):
            return jsonify({"error":
                            "format must be text or json"}), 400
        total = 0
        for name in sorted(os.listdir(service.lake_dir)):
            p = os.path.join(service.lake_dir, name)
            if _fn.fnmatchcase(name, pat) and os.path.isdir(p):
                total += service.spark.read.parquet(p).count()
        epoch = int(_time.time())
        ts = _time.strftime("%H:%M:%S", _time.gmtime(epoch))
        if fmt == "json":
            return jsonify([{"epoch": str(epoch), "timestamp": ts,
                             "count": str(total)}]), 200
        return f"{epoch} {ts} {total}\n", 200, {
            "Content-Type": "text/plain; charset=UTF-8"}

    @app.route("/search/sql", methods=["POST"])
    def sql_route():
        """ES ``_sql`` wire shape over the engine's native SQL
        (service.sql_query): first page carries ``columns`` +
        ``rows`` (+ ``cursor`` when more), cursor pages carry rows
        only, ``columnar: true`` transposes to per-column ``values``
        lists — all per the ES SQL REST docs."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"query", "fetch_size", "cursor",
                                      "columnar"})
        if unknown:
            return jsonify({"error":
                            f"unsupported sql keys: {unknown}"}), 400
        fs = body.get("fetch_size", 1000)
        if not isinstance(fs, int) or isinstance(fs, bool) or fs < 1:
            return jsonify({"error": "fetch_size must be a positive "
                                     "integer"}), 400
        columnar = body.get("columnar", False)
        if not isinstance(columnar, bool):
            return jsonify({"error": "columnar must be a boolean"}), 400
        cur = body.get("cursor")
        if cur is not None:
            if body.get("query") is not None:
                return jsonify({"error": "send query OR cursor, not "
                                         "both"}), 400
            entry = sql_cursors.pop(str(cur), None)
            if entry is None:
                return jsonify({"error": f"unknown cursor {cur!r}"}), 400
            rows, rest = entry["rows"][:fs], entry["rows"][fs:]
            out = {}
            columnar = entry["columnar"]
        else:
            if not isinstance(body.get("query"), str):
                return jsonify({"error": "sql requires a query "
                                         "string"}), 400
            try:
                cols, all_rows = service.sql_query(body["query"])
            except DslError as ex:
                return jsonify({"error": str(ex)}), 400
            rows, rest = all_rows[:fs], all_rows[fs:]
            out = {"columns": cols}
        if columnar:
            out["values"] = [list(c) for c in zip(*rows)] if rows else []
        else:
            out["rows"] = rows
        if rest:
            sid = _uuid.uuid4().hex
            sql_cursors[sid] = {"rows": rest, "columnar": columnar}
            # bounded store: a client that never drains or closes
            # cursors must not grow the service without limit — evict
            # the OLDEST cursor past the cap (dict preserves insertion
            # order), the ES-expiry analogue for a request-driven
            # service
            while len(sql_cursors) > 100:
                del sql_cursors[next(iter(sql_cursors))]
            out["cursor"] = sid
        return jsonify(out), 200

    @app.route("/search/sql/close", methods=["POST"])
    def sql_close_route():
        """ES ``_sql/close``: release an open cursor."""
        body = request.get_json(force=True)
        cur = str(body.get("cursor", ""))
        return jsonify(
            {"succeeded": sql_cursors.pop(cur, None) is not None}), 200

    @app.route("/search/reindex", methods=["POST"])
    def reindex_route():
        """ES ``_reindex`` (service.reindex)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"source", "dest", "script",
                                      "conflicts"})
        if unknown:
            return jsonify({"error":
                            f"unsupported reindex keys: {unknown}"}), 400
        if body.get("conflicts") not in (None, "abort", "proceed"):
            return jsonify({"error": "conflicts must be abort or "
                                     "proceed"}), 400
        try:
            return jsonify(service.reindex(body)), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/msearch", methods=["POST"])
    def msearch_route():
        """ES ``_msearch``: NDJSON header/body line pairs → one
        response per search, errors inline per-item (a bad body fails
        its slot, not the batch — the multi-API contract). Headers
        take ``index`` (table/pattern); bodies take the
        /search/advanced key set."""
        import json as _json

        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        raw = request.get_data(as_text=True) or ""
        lines = [ln for ln in raw.splitlines() if ln.strip()]
        if len(lines) % 2:
            return jsonify({"error":
                            "msearch needs header/body line pairs"}), 400
        responses = []
        for i in range(0, len(lines), 2):
            try:
                header = _json.loads(lines[i])
                body = _json.loads(lines[i + 1])
            except ValueError:
                responses.append({"error": "malformed NDJSON line",
                                  "status": 400})
                continue
            try:
                k = _page_size(body)
                if k is None:
                    raise DslError("k/size must be a non-negative "
                                   "integer")
                try:
                    from_ = int(body.get("from", 0))
                except (TypeError, ValueError):
                    # a malformed `from` is ITS slot's 400, never an
                    # unhandled ValueError -> request-level 500
                    raise DslError(
                        "from must be a non-negative integer") from None
                out = service.advanced_search(
                    header.get("index",
                               body.get("table", INDEX_PREFIX + "*")),
                    body.get("query", {"match_all": {}}), k=k,
                    aggs=body.get("aggs") or body.get("aggregations"),
                    sort=body.get("sort"),
                    from_=from_,
                    source=body.get("_source"),
                    track_total_hits=body.get("track_total_hits"),
                    runtime_mappings=body.get("runtime_mappings"),
                )
                responses.append({**_wire_envelope(out), "status": 200})
            except DslError as ex:
                responses.append({"error": str(ex), "status": 400})
        return jsonify({"responses": responses}), 200

    @app.route("/search/msearch_template", methods=["POST"])
    def msearch_template_route():
        """ES ``_msearch/template`` (r11): NDJSON header/template-body
        line pairs — each body carries {source|id, params} and renders
        through the one mustache engine, then runs as its pair's
        search. Errors stay inline per-item like _msearch (a missing
        stored template 404s ITS slot, not the batch)."""
        import json as _json

        from sql_database_to_elastic_datalake_spark.plans.templates import (
            render_search_template,
        )

        raw = request.get_data(as_text=True) or ""
        lines = [ln for ln in raw.splitlines() if ln.strip()]
        if len(lines) % 2:
            return jsonify({"error":
                            "msearch_template needs header/body line "
                            "pairs"}), 400
        responses = []
        for i in range(0, len(lines), 2):
            try:
                header = _json.loads(lines[i])
                tbody = _json.loads(lines[i + 1])
            except ValueError:
                responses.append({"error": "malformed NDJSON line",
                                  "status": 400})
                continue
            try:
                source, params = _resolve_template(tbody)
                body = render_search_template(source, params)
                k = _page_size(body)
                if k is None:
                    raise DslError("k/size must be a non-negative "
                                   "integer")
                try:
                    from_ = int(body.get("from", 0))
                except (TypeError, ValueError):
                    # a malformed `from` is ITS slot's 400, never an
                    # unhandled ValueError -> request-level 500
                    raise DslError(
                        "from must be a non-negative integer") from None
                out = service.advanced_search(
                    header.get("index",
                               body.get("table", INDEX_PREFIX + "*")),
                    body.get("query", {"match_all": {}}), k=k,
                    aggs=body.get("aggs") or body.get("aggregations"),
                    sort=body.get("sort"),
                    from_=from_,
                    source=body.get("_source"),
                    track_total_hits=body.get("track_total_hits"),
                    runtime_mappings=body.get("runtime_mappings"),
                )
                responses.append({**_wire_envelope(out), "status": 200})
            except NotFoundError as ex:
                responses.append({"error": str(ex), "status": 404})
            except DslError as ex:
                responses.append({"error": str(ex), "status": 400})
        return jsonify({"responses": responses}), 200

    @app.route("/search/mget", methods=["POST"])
    def mget_route():
        """ES ``_mget``: batch point lookups, one pushed-In scan per
        distinct table, misses reported per entry (never a request
        error)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"table", "index", "ids", "docs",
                                      "_source"})
        if unknown:
            return jsonify({"error":
                            f"unsupported mget keys: {unknown}"}), 400
        try:
            return jsonify(service.mget(
                table=body.get("table") or body.get("index"),
                ids=body.get("ids"), docs=body.get("docs"),
                source=body.get("_source"))), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/field_caps", methods=["POST", "GET"])
    def field_caps_route():
        """ES ``_field_caps``: schema capabilities for an index
        pattern — Kibana's first call. Footer metadata only, no job."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True, silent=True) or {}
        unknown = sorted(set(body) - {"table", "index", "fields"})
        if unknown:
            return jsonify({"error":
                            f"unsupported field_caps keys: {unknown}"}), 400
        try:
            return jsonify(service.field_caps(
                table=body.get("table") or body.get("index")
                or request.args.get("index"),
                fields=body.get("fields")
                or request.args.get("fields"))), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/terms_enum", methods=["POST"])
    def terms_enum_route():
        """ES ``_terms_enum``: prefix autocomplete over a keyword
        field (Kibana's field-value suggestions)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"table", "index", "field",
                                      "string", "size",
                                      "case_insensitive",
                                      "search_after", "timeout"})
        if unknown:
            return jsonify({"error":
                            f"unsupported terms_enum keys: {unknown} "
                            "(index_filter is unimplemented)"}), 400
        try:
            size = int(body.get("size", 10))
        except (TypeError, ValueError):
            return jsonify({"error": "size must be an integer"}), 400
        try:
            return jsonify(service.terms_enum(
                table=(body.get("table") or body.get("index")
                       or INDEX_PREFIX + "*"),
                field=body.get("field"),
                string=str(body.get("string", "") or ""),
                size=size,
                case_insensitive=bool(body.get("case_insensitive",
                                                False)),
                search_after=body.get("search_after"))), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/analyze", methods=["POST"])
    def analyze_route():
        """ES ``_analyze``: the engine's one analysis chain, echoed
        with original-text offsets. Driver-side only."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"text", "analyzer"})
        if unknown:
            return jsonify({"error":
                            f"unsupported analyze keys: {unknown} "
                            "(custom tokenizer/filter chains are "
                            "unimplemented)"}), 400
        if "text" not in body:
            return jsonify({"error": "analyze requires text"}), 400
        try:
            return jsonify(analyze_text(
                body["text"], body.get("analyzer", "standard"))), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/explain", methods=["POST"])
    def explain_route():
        """ES ``_explain``: per-document match breakdown (membership
        explanation — the BM25 tree divergence is documented on the
        service method)."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        unknown = sorted(set(body) - {"table", "index", "id", "query"})
        if unknown:
            return jsonify({"error":
                            f"unsupported explain keys: {unknown}"}), 400
        table = body.get("table") or body.get("index")
        if not table or body.get("id") is None:
            return jsonify(
                {"error": "explain requires table and id"}), 400
        try:
            out = service.explain(
                table, body["id"],
                body.get("query", {"match_all": {}}))
        except NotFoundError as ex:
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400
        # ES returns the found:false envelope with a 404 status
        return jsonify(out), (200 if out.get("found") else 404)

    @app.route("/search/scroll", methods=["POST"])
    def scroll_continue():
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True)
        sid = body.get("scroll_id")
        if not isinstance(sid, str) or not sid:
            return jsonify({"error": "scroll_id is required"}), 400
        # "scroll" (the TTL refresh) is accepted-and-ignored —
        # stateless tokens don't expire (scroll_search docs)
        try:
            return jsonify(_wire_envelope(
                service.scroll_search(scroll_id=sid))), 200
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/scroll", methods=["DELETE"])
    def scroll_clear():
        # ES frees server-side contexts here; stateless tokens hold
        # no server state, so clearing always succeeds
        return jsonify({"succeeded": True, "num_freed": 0}), 200

    @app.route("/search/pit", methods=["POST"])
    def pit_open():
        """ES ``POST /<index>/_pit``: mint a point-in-time id
        (open_pit docs — stateless token; keep_alive accepted and
        ignored). Body/query: {"table": ..., "keep_alive": ...}."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import DslError

        body = request.get_json(force=True, silent=True) or {}
        unknown = sorted(set(body) - {"table", "index", "keep_alive"})
        if unknown:
            return jsonify({"error":
                            f"unsupported pit keys: {unknown}"}), 400
        table = (body.get("table") or body.get("index")
                 or request.args.get("table"))
        try:
            return jsonify(service.open_pit(
                table, keep_alive=body.get("keep_alive"))), 200
        except NotFoundError as ex:
            return jsonify({"error": str(ex)}), 404
        except DslError as ex:
            return jsonify({"error": str(ex)}), 400

    @app.route("/search/validate", methods=["POST"])
    def validate_query():
        """ES ``_validate/query``: pre-flight a query body without
        running it (client SDKs and Kibana use it to surface syntax
        errors early). Compiles the DSL against the target table's
        schema — ``valid`` plus, with ``explain=true``, the ES-shaped
        per-"shard" explanation carrying the error text. Nothing
        executes: compilation only, no Spark job."""
        from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
            DslError,
            compile_dsl,
        )

        body = request.get_json(force=True, silent=True) or {}
        unknown = sorted(set(body) - {"table", "index", "query",
                                      "explain", "rewrite"})
        if unknown:
            return jsonify({"error":
                            f"unsupported validate keys: {unknown}"}), 400
        table = body.get("table") or body.get("index")
        fields = None
        if table and "*" not in table and "?" not in table:
            path = os.path.join(service.lake_dir, table)
            if not path_exists(service.spark, path):
                return jsonify(
                    {"error": f"no such table {table!r}"}), 404
            fields = service.spark.read.parquet(path).columns
        err = None
        try:
            compile_dsl(body.get("query", {"match_all": {}}),
                        schema_fields=fields)
        except DslError as ex:
            err = str(ex)
        out: dict = {"valid": err is None,
                     "_shards": {"total": 1,
                                 "successful": 0 if err else 1,
                                 "failed": 1 if err else 0}}
        if body.get("explain"):
            exp = {"index": table or INDEX_PREFIX + "*",
                   "valid": err is None}
            exp["error" if err else "explanation"] = (
                err or "column-algebra predicate compiled")
            out["explanations"] = [exp]
        return jsonify(out), 200

    @app.route("/search/pit", methods=["DELETE"])
    def pit_close():
        # ES frees the reader contexts here; stateless tokens hold no
        # server state, so closing always succeeds (like scroll clear)
        return jsonify({"succeeded": True, "num_freed": 0}), 200

    return app


#: Source tables the ticket resync plan hard-requires (sync.py
#: denormalize_tickets signature) — validated up front by the /sync
#: route so a thin entities dir surfaces as 503, not KeyError.
RESYNC_REQUIRED_TABLES = [
    "Ticket", "TicketStatus", "Status", "Module",
    "DataSource", "User", "TicketLabel", "Label",
]

#: Entity type -> its single source table (the one mapping both the
#: /sync route's 503 guard and resync_entity's lookup share).
ENTITY_SOURCE_TABLES = {
    "user": "User",
    "data_source": "DataSource",
    "status": "Status",
    "label": "Label",
}

ENTITY_SYNC_FNS = {
    "user": "sync_users",
    "data_source": "sync_data_sources",
    "status": "sync_statuses",
    "label": "sync_labels",
}


def resync_entity(
    service: LakeService,
    entities: dict[str, "DataFrame"],
    entity_type: str,
    entity_id: str,
    indexed_at: str,
) -> dict[str, Any]:
    """Per-entity point re-sync (reference I2/I4 — the *intended*
    semantics of /root/reference/src/routes/user_routes.py:190-239 and
    the TODO-stubbed module/status/label sync endpoints, without the
    reference's latent getter-signature TypeError, SURVEY.md §2.9 I2).

    Recomputes one entity's document and MERGEs it into the lake keyed
    by the entity id column.
    """
    from pyspark.sql import functions as F

    from sql_database_to_elastic_datalake_spark import sync as sync_mod
    from sql_database_to_elastic_datalake_spark.sinks.upsert import merge_latest_wins

    entity_key = ENTITY_SOURCE_TABLES.get(entity_type)
    if entity_key is None or entity_type not in ENTITY_SYNC_FNS:
        return {"status_code": 404, "error": f"unsupported entity {entity_type}"}
    src = entities[entity_key].filter(F.col("id") == entity_id)
    doc = getattr(sync_mod, ENTITY_SYNC_FNS[entity_type])(src, indexed_at)
    id_out = f"{entity_type}_id"
    path = service._table_path(f"denorm_{entity_type}")
    # existence check, not try/except-everything (same data-loss class
    # as resync_ticket: a transient read error must raise, not rebuild
    # the table from one document); Hadoop-FS so URI schemes resolve
    if path_exists(service.spark, path):
        base = service.spark.read.parquet(path)
        merged = merge_latest_wins(base, doc, keys=[id_out], version_col="indexed_at")
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
    else:
        doc.write.mode("overwrite").parquet(path)
    n = doc.count()
    # superset of the reference's per-entity sync response shape
    # (user_routes.py:221-227: status/<entity>_id/message)
    if not n:
        return {"status_code": 404, "synced": 0, "id": entity_id,
                "error": f"{entity_type} {entity_id} not found"}
    return {"status_code": 200, "synced": n, "id": entity_id,
            f"{entity_type}_id": entity_id, "status": "success",
            "message": f"{entity_type} successfully synced to data lake"}
