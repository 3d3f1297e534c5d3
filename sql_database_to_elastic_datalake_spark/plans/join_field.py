"""ES join-field query family — ``has_child`` / ``has_parent`` /
``parent_id`` — re-expressed as distinct-key semi-join flags.

Reference surface: the reference forwards search bodies verbatim to a
real ES 8.11 (/root/reference/src/search_api.py:38-46), where a join
field in the mapping relates parent and child documents sharing an
index/shard. This lake stores the relation as two TABLES sharing a
key (the real parent/child pair it holds: orders ↔ lineitem via
``o_orderkey``/``l_orderkey``), declared in :data:`RELATIONS` the way
ES declares it in the mapping.

Spark-first shape (why a rewrite, not a compile): ``compile_dsl``
produces one boolean Column over ONE DataFrame, and a join-field leaf
is inherently a join — so each leaf is rewritten into

1. one qualifying-key frame on the OTHER side — the child/parent table
   filtered by the inner query, reduced to DISTINCT join keys (or a
   count-filtered key set when ``min_children``/``max_children`` ask
   for cardinality), then
2. one left join of those keys onto the queried frame as a boolean
   flag column, pinned ``shuffle_hash`` (the key set can be a large
   fraction of the big side — letting AQE gamble on a broadcast is the
   OOM mode the dedup operators already pin against; Spark still
   map-side-combines the distinct), and
3. the leaf itself replaced by ``{"exists": {"field": <flag>}}`` —
   membership that composes under arbitrary ``bool`` nesting, so
   ``must_not: [{"has_child": …}]`` is the anti-join for free.

``parent_id`` never joins at all: the child row CARRIES its parent
key, so the leaf rewrites to a plain equality on the child key — one
pushed-down comparison, exactly what ES's parent_id query is for.

At 100 TB: each leaf costs one shuffle of the child side's distinct
keys plus one shuffle-hash join — the same shape as the denormalize
operators; bucketing both tables by the order key makes the join
co-located and the shuffle disappears. Score shapes that need ES's
per-child scoring joins (``score_mode`` other than ``none``,
``has_parent`` with ``score: true``, ``inner_hits``) are NAMED 400s —
a membership engine must not silently drop a requested ranking.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.plans.es_dsl import (
    DslError,
    compile_dsl,
)

#: The lake's declared join-field relations (ES's mapping, restated).
#: ``child``/``parent`` are LOGICAL table names; the queried table
#: matches a side by suffix (so ``orders``, ``data_lake_orders`` and
#: any prefixed replica all resolve), and the other side loads from
#: the same namespace with the suffix swapped.
RELATIONS: list[dict] = [
    {
        "child": "lineitem",
        "parent": "orders",
        "parent_key": "o_orderkey",
        "child_key": "l_orderkey",
    },
]

JOIN_FIELD_KINDS = ("has_child", "has_parent", "parent_id")


def has_join_field(node) -> bool:
    """Whether a DSL tree contains any join-field leaf."""
    if isinstance(node, dict):
        return any(
            k in JOIN_FIELD_KINDS or has_join_field(v)
            for k, v in node.items()
        )
    if isinstance(node, list):
        return any(has_join_field(x) for x in node)
    return False


def _match_side(table: str, logical: str) -> str | None:
    """The queried table's PREFIX when it matches a logical side name
    by suffix (``""`` for an exact match), else None."""
    if table == logical:
        return ""
    if table.endswith(logical):
        return table[: -len(logical)]
    return None


def _relation(kind: str, type_name: str, table: str):
    """Resolve (relation, sibling_table_name) for a leaf, or None."""
    for rel in RELATIONS:
        if kind == "has_child" and rel["child"] == type_name:
            prefix = _match_side(table, rel["parent"])
            if prefix is not None:
                return rel, prefix + rel["child"]
        elif kind == "has_parent" and rel["parent"] == type_name:
            prefix = _match_side(table, rel["child"])
            if prefix is not None:
                return rel, prefix + rel["parent"]
        elif kind == "parent_id" and rel["child"] == type_name:
            prefix = _match_side(table, rel["child"])
            if prefix is not None:
                return rel, table  # no sibling load needed
    return None


def _match_none() -> dict:
    """An always-false leaf (the ``ignore_unmapped: true`` result)."""
    return {"bool": {"must_not": [{"match_all": {}}]}}


def rewrite_join_field(
    df: DataFrame,
    dsl: dict,
    table: str,
    load_sibling: Callable[[str], DataFrame | None],
) -> tuple[DataFrame, dict, list[str]]:
    """Rewrite every join-field leaf in ``dsl`` into a flag column on
    ``df`` (see module docstring). Returns ``(augmented_df,
    rewritten_dsl, flag_columns)`` — the caller compiles the rewritten
    tree against the augmented frame and DROPS the flags after
    filtering so they never reach a response envelope.

    ``load_sibling`` resolves a sibling table name to its DataFrame
    (or None when absent) — the API passes a lake reader, the registry
    passes ``load_table``.

    r15 (guide §2.4; r14 verdict #5): leaves that resolve to the SAME
    (sibling table, source key, destination key) now share ONE
    qualifying-key pass and ONE flag join — each leaf becomes a
    conditional aggregate over the union-filtered sibling (existence:
    ``max(when(pred, true))``; min/max_children: a count-gated
    ``when``), TRUE-or-NULL so ``exists(flag)`` composes exactly as
    before. A two-leaf has_parent bool (the registered
    ``join_field_has_parent``) drops from two groupBy shuffles + two
    shuffle-hash joins to one of each; leaves on different relations
    or keys keep separate joins.
    """
    state = {"df": df, "i": 0, "flags": [], "pending": {}}

    def leaf(kind: str, body) -> dict:
        if not isinstance(body, dict):
            raise DslError(f"{kind} body must be an object")
        type_key = "parent_type" if kind == "has_parent" else "type"
        type_name = body.get(type_key)
        if not isinstance(type_name, str) or not type_name:
            raise DslError(f"{kind} requires a {type_key!r} string")
        ignore_unmapped = bool(body.get("ignore_unmapped", False))
        hit = _relation(kind, type_name, table)
        if hit is None:
            if ignore_unmapped:
                return _match_none()
            raise DslError(
                f"no join-field relation maps {kind} type "
                f"{type_name!r} onto table {table!r} (declared "
                "relations: "
                + ", ".join(f"{r['parent']}↔{r['child']}"
                            for r in RELATIONS) + ")")
        rel, sibling = hit

        if kind == "parent_id":
            pid = body.get("id")
            if pid is None:
                raise DslError("parent_id requires an id")
            unknown = sorted(set(body)
                             - {"type", "id", "ignore_unmapped"})
            if unknown:
                raise DslError(
                    f"unsupported parent_id options: {unknown}")
            # the child row carries its parent key — pure equality,
            # no join (ES ids are strings; coerce numeric forms so
            # the comparison hits the key column's native type)
            if isinstance(pid, str):
                try:
                    pid = int(pid)
                except ValueError:
                    try:
                        pid = float(pid)
                    except ValueError:
                        pass
            return {"term": {rel["child_key"]: pid}}

        inner = body.get("query")
        if not isinstance(inner, dict):
            raise DslError(f"{kind} requires a query object")
        if kind == "has_child":
            score_mode = body.get("score_mode", "none")
            if score_mode != "none":
                raise DslError(
                    f"has_child score_mode {score_mode!r} needs ES's "
                    "per-child scoring join; only 'none' (filter "
                    "context) is supported")
            allowed = {"type", "query", "score_mode", "min_children",
                       "max_children", "ignore_unmapped"}
        else:
            if body.get("score", False):
                raise DslError(
                    "has_parent score: true needs ES's parent-score "
                    "propagation; only score: false (filter context) "
                    "is supported")
            allowed = {"parent_type", "query", "score",
                       "ignore_unmapped"}
        if "inner_hits" in body:
            raise DslError(
                f"{kind} inner_hits is not supported (the hits "
                "envelope carries one table's rows)")
        unknown = sorted(set(body) - allowed)
        if unknown:
            raise DslError(f"unsupported {kind} options: {unknown}")

        other = load_sibling(sibling)
        if other is None:
            if ignore_unmapped:
                return _match_none()
            raise DslError(
                f"{kind} type {type_name!r} resolves to table "
                f"{sibling!r}, which does not exist")

        def resolve(field: str, _df=other):
            return (F.col(field) if field in _df.columns
                    else F.lit(None).cast("string"))

        # NO null-coalesce around the inner predicate: filter()
        # already drops null-valued rows (ES's no-match), and a
        # coalesce wrapper would block predicate pushdown to the
        # sibling's parquet scan
        cpred = compile_dsl(inner, field_resolver=resolve,
                            schema_fields=other.schema)
        if kind == "has_child":
            src_key, dst_key = rel["child_key"], rel["parent_key"]
        else:
            src_key, dst_key = rel["parent_key"], rel["child_key"]

        i = state["i"]
        state["i"] += 1
        fcol = f"__jf_{i}"
        min_c = max_c = None
        if kind == "has_child" and (
                "min_children" in body or "max_children" in body):
            min_c = body.get("min_children", 1)
            max_c = body.get("max_children")
            for label, v in (("min_children", min_c),
                             ("max_children", max_c)):
                if v is not None and (isinstance(v, bool)
                                      or not isinstance(v, int)
                                      or v < 0):
                    raise DslError(
                        f"{label} must be a non-negative integer")
        # defer the key pass: leaves sharing (sibling, src, dst) fold
        # into ONE groupBy + ONE join after the walk (module docstring)
        state["pending"].setdefault(
            (sibling, src_key, dst_key), (other, []),
        )[1].append((fcol, cpred, min_c, max_c))
        state["flags"].append(fcol)
        return {"exists": {"field": fcol}}

    def walk(node):
        if isinstance(node, list):
            return [walk(x) for x in node]
        if isinstance(node, dict):
            if len(node) == 1:
                kind, body = next(iter(node.items()))
                # only a leaf whose body LOOKS like a join-field body
                # is rewritten — a field that merely shares the name
                # (e.g. {"term": {"has_child": v}}) walks through
                if kind in JOIN_FIELD_KINDS and isinstance(body, dict):
                    return leaf(kind, body)
            return {k: walk(v) for k, v in node.items()}
        return node

    rewritten = walk(dsl)  # collects pending leaf specs — walk FIRST
    for gi, ((_sib, src_key, dst_key), (other, leaves)) in enumerate(
            state["pending"].items()):
        kcol = f"__jf_key_{gi}"
        any_pred = leaves[0][1]
        for _, p, _, _ in leaves[1:]:
            any_pred = any_pred | p
        base = other.filter(any_pred).filter(F.col(src_key).isNotNull())
        aggs = []
        for fcol, cpred, min_c, max_c in leaves:
            if min_c is None and max_c is None:
                # plain existence: TRUE when any row matched, else
                # NULL — exists(flag) must stay false for a key that
                # only qualified for a SIBLING leaf in this group
                aggs.append(
                    F.max(F.when(cpred, F.lit(True))).alias(fcol))
            else:
                cnt = F.count(F.when(cpred, F.lit(1)))
                cond = cnt >= F.lit(int(min_c))
                if max_c is not None:
                    cond = cond & (cnt <= F.lit(int(max_c)))
                aggs.append(F.when(cond, F.lit(True)).alias(fcol))
        keys = base.groupBy(F.col(src_key).alias(kcol)).agg(*aggs)
        # a key whose every flag came out NULL (e.g. matched a count
        # leaf below min_children) carries no information — keep the
        # joined relation as small as each single-leaf frame was
        keys = keys.filter(
            F.coalesce(*[F.col(fc) for fc, *_ in leaves],
                       F.lit(None).cast("boolean")).isNotNull())
        state["df"] = (
            state["df"]
            .join(keys.hint("shuffle_hash"),
                  on=F.col(dst_key) == F.col(kcol), how="left")
            .drop(kcol)
        )
    return state["df"], rewritten, state["flags"]

