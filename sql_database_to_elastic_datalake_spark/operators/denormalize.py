"""The denormalized wide-document pipeline — the engine's flagship query.

Re-expresses the reference's richest computation
(/root/reference/src/db_connector.py:261-300 + /root/reference/src/ticket_sync.py:21-217):

    CTE latest_status: DISTINCT ON (ticketId) ⋈ Status ORDER createdAt DESC
    Ticket ⟕ latest_status ⟕ Module ⟕ DataSource ⟕ User
    + labels grouped per ticket into an array
    + indexed_at / document_id versioning, ORDER BY number

mapped onto the harness star schema (FIXTURES.md §5):

    fact ``orders``                  ↔ Ticket
    event table ``lineitem``         ↔ TicketStatus (latest per order by
                                       l_shipdate = latest status)
    dims ``customer → nation → region`` ↔ User/Module/DataSource chain
    ``lineitem ⋈ part`` brands       ↔ TicketLabel ⋈ Label nesting

Where the reference pushes this into Postgres and finishes with Python
dict loops, here it is ONE declarative Spark plan:
window-dedup + broadcast left joins + sorted group-to-array.

Scale notes (100 TB):
  * ``orders`` and ``lineitem`` shuffle hash-partitioned on the order key
    — the only two shuffles of fact data in the plan (window + final
    join); the labels aggregation reuses the same key so AQE can align
    partitioning.
  * All dims (customer/nation/region at TPC-H ratios: 1.5k/25/5 rows per
    15k orders) are broadcast — no fact shuffle for dim joins. We hint
    ``broadcast()`` explicitly rather than relying on size estimation.
  * ``indexed_at`` is one literal per run (computed once, not
    ``current_timestamp()`` per row) so re-runs of the same batch are
    byte-identical — required for content-addressed idempotency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.functions.scalar import document_id
from sql_database_to_elastic_datalake_spark.sources.parquet import load_table


def denormalized_orders(
    spark: SparkSession,
    sf_dir: str,
    indexed_at: str = "2026-01-01T00:00:00",
    order_key: int | None = None,
) -> DataFrame:
    """Build the wide denormalized order document table.

    ``order_key`` narrows to a single order — the point-refresh path
    (reference I1: /root/reference/src/routes/ticket_routes.py:212-264,
    filter /root/reference/src/db_connector.py:296-298). The filter is
    applied at the *source* so Catalyst pushes it into every parquet scan
    it reaches.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    if order_key is not None:
        orders = orders.filter(F.col("o_orderkey") == F.lit(order_key))
        lineitem = lineitem.filter(F.col("l_orderkey") == F.lit(order_key))

    # --- one fused pass over lineitem: latest event (A1) + labels (A3) ---
    # The DISTINCT ON row is max(struct(tie-break chain)): struct
    # comparison is lexicographic by field, so max == ORDER BY every
    # field DESC — the same total order the window form used. (The
    # harness data has duplicate (orderkey, linenumber) pairs, so
    # linenumber alone is NOT a total order — every emitted column joins
    # the chain; SURVEY.md §7.3 hard-part #1, observed on order 10955.)
    # Fusing it with the brand-set aggregate halves the fact-table work:
    # ONE lineitem scan and ONE shuffle on the order key, both halves
    # partial-aggregated map-side (max and set-union combine), where the
    # window form shuffled lineitem twice and joined the results back.
    latest_struct = F.struct(
        F.col("l_shipdate").alias("latest_shipdate"),
        F.col("l_linenumber").alias("latest_linenumber"),
        F.col("l_returnflag").alias("latest_returnflag"),
        F.col("l_linestatus").alias("latest_linestatus"),
    )
    line_summary = (
        lineitem.select(
            "l_orderkey", "l_shipdate", "l_linenumber", "l_returnflag",
            "l_linestatus", "l_partkey",
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .groupBy(F.col("l_orderkey").alias("ll_orderkey"))
        .agg(
            F.max(latest_struct).alias("__latest"),
            F.array_join(
                F.array_sort(F.collect_set(F.col("p_brand"))), ","
            ).alias("__labels"),
        )
        .select(
            "ll_orderkey",
            F.col("__latest.latest_shipdate").alias("latest_shipdate"),
            F.col("__latest.latest_linenumber").alias("latest_linenumber"),
            F.col("__latest.latest_returnflag").alias("latest_returnflag"),
            F.col("__latest.latest_linestatus").alias("latest_linestatus"),
            # empty set (lineitems but no matched parts) → NULL, matching
            # the unfused inner-join-then-group form
            F.when(F.col("__labels") != "", F.col("__labels")).alias(
                "labels"
            ),
        )
    )

    # --- dim chain, all broadcast (J2/J3) ---
    dims = (
        customer.select("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left",
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
            "left",
        )
        .select("c_custkey", "c_name", "c_mktsegment",
                F.col("n_name").alias("nation_name"),
                F.col("r_name").alias("region_name"))
    )

    # nation/region carry explicit broadcast() hints (fixed-size dims);
    # the customer chain does NOT — customer scales with the data volume,
    # so AQE must pick broadcast vs shuffle from its measured size.
    wide = (
        orders.join(
            line_summary, F.col("o_orderkey") == F.col("ll_orderkey"), "left"
        )
        .join(dims, F.col("o_custkey") == F.col("c_custkey"), "left")
    )

    ts = F.lit(indexed_at)
    out = (
        wide.select(
            F.col("o_orderkey").alias("order_id"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_totalprice").alias("order_totalprice"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("customer_mktsegment"),
            F.col("nation_name"),
            F.col("region_name"),
            F.col("latest_shipdate"),
            F.col("latest_linenumber"),
            F.col("latest_returnflag"),
            F.col("latest_linestatus"),
            F.col("labels"),
            ts.alias("indexed_at"),
            document_id(F.col("o_orderkey"), ts).alias("doc_id"),
        )
    )
    # The reference's final ORDER BY number
    # (/root/reference/src/db_connector.py:300) only dictates its batch
    # iteration order — documents at rest are keyed, not ordered. A
    # global sort is a full range-shuffle of the wide output, pure cost
    # at 100 TB, so there is none; ``sinks.writer.write_lake(...,
    # cluster_by=("order_id",))`` gives at-rest locality instead.
    return out


#: DuckDB oracle for :func:`denormalized_orders` (driver correctness gate).
DENORMALIZED_ORDERS_ORACLE = """
WITH latest_line AS (
    SELECT l_orderkey, l_shipdate, l_linenumber, l_returnflag, l_linestatus
    FROM (
        SELECT l_orderkey, l_shipdate, l_linenumber, l_returnflag, l_linestatus,
               ROW_NUMBER() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_shipdate DESC, l_linenumber DESC,
                            l_returnflag DESC, l_linestatus DESC
               ) AS rn
        FROM lineitem
    ) WHERE rn = 1
),
labels AS (
    SELECT l.l_orderkey,
           string_agg(DISTINCT p.p_brand, ',' ORDER BY p.p_brand) AS labels
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY l.l_orderkey
),
dims AS (
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           n.n_name AS nation_name, r.r_name AS region_name
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
)
SELECT o.o_orderkey            AS order_id,
       o.o_orderstatus         AS order_status,
       o.o_totalprice          AS order_totalprice,
       o.o_orderdate           AS order_date,
       o.o_orderpriority       AS order_priority,
       d.c_name                AS customer_name,
       d.c_mktsegment          AS customer_mktsegment,
       d.nation_name           AS nation_name,
       d.region_name           AS region_name,
       ll.l_shipdate           AS latest_shipdate,
       ll.l_linenumber         AS latest_linenumber,
       ll.l_returnflag         AS latest_returnflag,
       ll.l_linestatus         AS latest_linestatus,
       lb.labels               AS labels,
       '2026-01-01T00:00:00'   AS indexed_at,
       o.o_orderkey || '_' || '2026-01-01T00:00:00' AS doc_id
FROM orders o
LEFT JOIN latest_line ll ON o.o_orderkey = ll.l_orderkey
LEFT JOIN labels lb      ON o.o_orderkey = lb.l_orderkey
LEFT JOIN dims d         ON o.o_custkey = d.c_custkey
ORDER BY order_id
"""
