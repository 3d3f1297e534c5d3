"""Generic any-table sync — the legacy ``data_lake_sync.py`` surface.

Reproduces /root/reference/data_lake_sync.py:127-189 as one declarative
transform per table: namespace every column ``<table>_<col>``, stamp the
``table`` provenance column (:152-164), and derive the content-addressed
MD5 document id (:72-82) so unchanged rows overwrite idempotently and
changed rows become new documents. The reference's LIMIT/OFFSET batch
loop (:130-134, O(n²) total scan) disappears — partitioned scans do the
chunking.

Composes with :func:`.sinks.writer.write_lake`: ``snapshot`` for the
destructive-refresh behavior, ``history`` + ``dropDuplicates`` on the
content id for the idempotent-accumulate behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.functions.scalar import content_hash
from sql_database_to_elastic_datalake_spark.operators.nest import namespace_columns


def sync_generic_table(
    df: DataFrame,
    table_name: str,
    soft_delete_col: str | None = "deletedAt",
) -> DataFrame:
    """Lake-ready generic document table for any source relation.

    Output: all columns namespaced + ``table`` provenance + ``doc_id``
    (md5 over the namespaced content, NUL-safe for nulls).
    """
    src = df
    if soft_delete_col and soft_delete_col in src.columns:
        src = src.filter(F.col(soft_delete_col).isNull())
    # reference parity (data_lake_sync.py:152-164): lowercase table name
    # everywhere, and the 'data' JSON column keeps its name un-prefixed
    tname = table_name.lower()
    out = namespace_columns(src, tname, exclude=("data",))
    # the provenance column participates in the id (the reference hashes
    # the WHOLE doc incl. its 'table' field, :72-82) — excluding it made
    # identical rows from different tables collide on doc_id and one
    # table's row silently lose in a shared content-keyed lake
    return out.withColumn("doc_id", content_hash(list(out.columns)))

