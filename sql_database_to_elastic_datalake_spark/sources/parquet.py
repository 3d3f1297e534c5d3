"""Lake-side table access: parquet scans with catalog discovery.

Mirrors the reference's source-scan surface (SURVEY.md §2.1 S1–S4:
``/root/reference/src/db_connector.py:135-223`` full-table getters,
``/root/reference/data_lake_sync.py:54-61`` table discovery) re-expressed
as parquet reads. Filters and projections are *not* applied here — they
are declared by callers and pushed down by Catalyst into the scan
(PushedFilters / ReadSchema), which is the scale-critical property: a
100 TB scan must only read the row groups and columns the query needs.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.fs import (
    modification_time,
    path_exists,
)

#: The harness's table inventory (TESTDATA.md). Analogous to the
#: reference's ``tables_to_sync`` allow-list
#: (/root/reference/src/db_connector.py:15-18).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Column names stored as parquet INT64 TIMESTAMP(NANOS) — footer-only.

    The check must consult the *parquet* schema, not the arrow view:
    pyarrow reports legacy INT96 timestamps (Spark's default output
    type) as ``timestamp[ns]`` too, but Spark reads INT96 natively as
    TIMESTAMP — treating it as a raw long would break the plan. Only
    physical INT64 nanos need the nanosAsLong + integer-div path.
    """
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            for f in sorted(os.listdir(path)):
                if f.endswith(".parquet"):
                    path = os.path.join(path, f)
                    break
        pf = pq.ParquetFile(path)
        arrow_names = {
            f.name for f in pf.schema_arrow if str(f.type) == "timestamp[ns]"
        }
        out = []
        for i in range(len(pf.schema)):
            col = pf.schema.column(i)
            if col.name in arrow_names and col.physical_type == "INT64":
                out.append(col.name)
        return out
    except Exception:
        return []


def _iso_to_micros(iso: str) -> int:
    """Naive-UTC ISO-8601 string → integer micros since epoch (no floats)."""
    dt = datetime.fromisoformat(iso)
    if dt.tzinfo is not None:
        raise ValueError("ts_range bounds must be naive (lake time is naive UTC)")
    td = dt - datetime(1970, 1, 1)
    return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds


#: Scan cache: (applicationId, path, loader) → (modification time,
#: DataFrame). A DataFrame is an immutable logical plan whose file index
#: was listed when it was built, so reusing one skips the JVM
#: round-trips for the file listing and the footer schema read (~80 ms
#: per table). Only plans are kept: every action still reads the files.
#: An entry is reused while the path's modification time is unchanged;
#: a miss replaces every entry of its path, so a long-lived service
#: that rewrites tables holds one plan per path, not one per rewrite.
_SCANS: dict[tuple[str, str, Callable], tuple[int, DataFrame]] = {}
_SCANS_LOCK = threading.Lock()


def cached_scan(
    spark: SparkSession, path: str,
    loader: Callable[[SparkSession, str], DataFrame],
) -> DataFrame | None:
    """``loader(spark, path)``, reused while ``path``'s modification
    time (``fs.modification_time``) is unchanged; None when
    ``path`` does not exist. A store without directory times is read
    afresh every time — nothing there would tell a rewrite apart."""
    mtime = modification_time(spark, path)
    if mtime is None:
        return None
    if not mtime:
        return loader(spark, path)
    key = (spark.sparkContext.applicationId, path, loader)
    hit = _SCANS.get(key)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    df = loader(spark, path)
    with _SCANS_LOCK:
        _drop(path)
        _SCANS[key] = (mtime, df)
    return df


def forget_scan(path: str) -> None:
    """Drop ``path``'s cached plan — for a writer that has just
    rewritten it, so the next read lists the new files."""
    with _SCANS_LOCK:
        _drop(path)


def _drop(path: str) -> None:
    for k in [k for k in _SCANS if k[1] == path]:
        del _SCANS[k]


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range: dict[str, tuple[str | None, str | None]] | None = None,
) -> DataFrame:
    """Scan one lake table. Plain ``spark.read.parquet`` so that filter
    pushdown, column pruning and partition pruning all apply. Without
    ``ts_range`` the scan's plan is reused through :func:`cached_scan`.

    Nanosecond-precision parquet timestamps (which Spark's vectorized
    reader rejects, PARQUET_TYPE_ILLEGAL) are read as raw nanos via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncated to microsecond
    TimestampType with integer ``div`` — float division would lose
    precision above 2^53 nanos (~1970+104 days). This matches DuckDB's
    nanos→micros truncation, keeping the differential oracle exact.

    ``ts_range`` maps a timestamp column to a half-open ``[lo, hi)`` ISO
    bound pair (either side may be None). The predicate is applied to the
    column AS STORED — for nanos columns that is the raw long, compared
    against ``bound_micros * 1000`` — so it reaches the parquet scan as a
    PushedFilter and prunes row groups on column statistics. Filtering
    after the micros conversion would wrap the column in a cast Catalyst
    cannot push, forcing a full scan: the difference between reading one
    day and reading the whole 100 TB events table. Integer-exact:
    ``converted >= lo  ⇔  nanos div 1000 >= lo_micros  ⇔  nanos >= lo_micros*1000``
    (and ``< hi`` likewise), so semantics match filtering post-conversion.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if ts_range is None:
        df = cached_scan(spark, path, _scan)
        if df is not None:
            return df
    return _scan(spark, path, ts_range)


def _scan(
    spark: SparkSession,
    path: str,
    ts_range: dict[str, tuple[str | None, str | None]] | None = None,
) -> DataFrame:
    """:func:`load_table`'s read of one parquet path."""
    nanos = _nanos_timestamp_cols(path)
    if not nanos:
        df = spark.read.parquet(path)
        for c, (lo, hi) in (ts_range or {}).items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo).cast("timestamp"))
            if hi is not None:
                df = df.filter(F.col(c) < F.lit(hi).cast("timestamp"))
        return df
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c, (lo, hi) in (ts_range or {}).items():
        if c not in nanos:
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo).cast("timestamp"))
            if hi is not None:
                df = df.filter(F.col(c) < F.lit(hi).cast("timestamp"))
            continue
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(_iso_to_micros(lo) * 1000))
        if hi is not None:
            df = df.filter(F.col(c) < F.lit(_iso_to_micros(hi) * 1000))
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Catalog-discovery analog: load every known table that exists.

    The reference intersects discovered tables with an allow-list
    (/root/reference/src/db_connector.py:41-53); here the allow-list is
    ``names`` and existence is checked on the Hadoop ``FileSystem``
    ``sf_dir`` resolves to, so a URI ``sf_dir`` loads as a local path
    does.
    """
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if path_exists(spark, path):
            out[name] = load_table(spark, sf_dir, name)
    return out
