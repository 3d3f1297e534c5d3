"""Lake writers: snapshot, history-append, and idempotent-ensure modes.

Mirrors the reference's three sink behaviors (SURVEY.md §2.1):
  * S9 destructive refresh — delete index + recreate per run
    (/root/reference/src/es_connector.py:21-35) → ``mode="snapshot"``
    (parquet overwrite: job-level atomic commit replaces per-batch
    refresh bookkeeping).
  * append-only history — versioned ``document_id = id_<indexed_at>``
    rows accumulated across runs (/root/reference/src/data_sync.py:110-115)
    → ``mode="history"`` (append + version columns).
  * S10 idempotent ensure — create only if missing
    (/root/reference/src/utils.py:222-250) → ``mode="ensure"`` (ignore).

Scale notes:
  * ``partition_by`` should be a low-cardinality natural pruning key
    (run date, entity type). History tables partitioned by
    ``indexed_date`` prune to one run's data on point reads.
  * ``max_records_per_file`` bounds file sizes so a 1000-executor write
    does not produce multi-GB files (the parquet row-group equivalent of
    the reference's batch-size knob, /root/reference/src/config.py:28).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_lake(
    df: DataFrame,
    path: str,
    mode: str = "snapshot",
    partition_by: Sequence[str] = (),
    cluster_by: Sequence[str] = (),
    cluster_files: int | None = None,
    max_records_per_file: int | None = 1_000_000,
    compression: str = "zstd",
) -> None:
    """Write a lake table under snapshot/history/ensure semantics.

    ``compression="zstd"`` by default: at 100 TB the scan is IO-bound and
    zstd's ratio beats snappy at comparable decode speed. ``partition_by``
    on a low-cardinality calendar/entity key enables partition pruning —
    point reads then touch one directory, not the table.

    ``cluster_by`` range-clusters the data before writing
    (``repartitionByRange`` + ``sortWithinPartitions``): each output
    file then covers a narrow, near-disjoint range of the cluster key,
    so parquet footer min/max statistics let later scans skip whole
    files/row-groups on selective predicates — the plain-parquet
    equivalent of Z-ordering for the single-key case, and the right
    layout for high-cardinality keys where ``partition_by`` would
    explode the directory count.
    """
    spark_mode = {"snapshot": "overwrite", "history": "append", "ensure": "ignore"}[
        mode
    ]
    if cluster_by:
        # explicit file count pins the range-shuffle partitioning (an
        # unspecified count lets AQE coalesce small outputs — right for
        # production, wrong when a fixed layout is wanted)
        if cluster_files:
            df = df.repartitionByRange(cluster_files, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    writer = df.write.mode(spark_mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    num_buckets: int = 32,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed catalog table for shuffle-free co-located
    joins: two tables bucketed identically on the join key join without
    any Exchange — the 100 TB answer to repeatedly-joined fact tables
    (the engine's equivalent of pre-sharding; verified by plan assertion
    in tests).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table_name)


def compact_lake(
    spark,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    cluster_by: Sequence[str] = (),
    compression: str = "zstd",
) -> int:
    """Small-file compaction: rewrite a lake table into files near
    ``target_file_bytes``. Streaming/append ingestion inevitably leaves
    many tiny files; at 100 TB the per-file open/footer cost dominates
    scans long before bytes do, so periodic compaction is part of the
    lake contract (the Delta OPTIMIZE analog for plain parquet).

    Sizing uses the table's current on-disk bytes — compressed size maps
    1:1 to post-rewrite size at equal codec. Returns the file count
    written. With ``cluster_by``, the rewrite also range-clusters, so
    one pass restores both file sizing and data-skipping layout.
    Atomicity: the rewrite goes to ``<path>.__compact__`` then an
    atomic-enough directory swap — readers mid-swap see old or new,
    never a mix.
    """
    import math
    import os
    import shutil

    tmp = path.rstrip("/") + ".__compact__"
    old_dir = path.rstrip("/") + ".__old__"
    # recover from a prior interrupted run — the states are NOT
    # interchangeable: a crash between the two renames below leaves the
    # table ONLY at __old__ (path absent), so the sole live copy must be
    # restored, never swept. Only when path exists is a leftover __old__
    # a dead duplicate; __compact__ is always a rewrite, safe to clear
    # once the table itself is in place.
    if os.path.exists(old_dir) and not os.path.exists(path):
        os.rename(old_dir, path)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(old_dir):
        shutil.rmtree(old_dir)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(path)
    if cluster_by:
        df = df.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").option("compression", compression).parquet(tmp)
    # two renames, not atomic together: a crash between them leaves the
    # table at __old__ — recoverable by hand (and the stale-dir sweep
    # above unblocks the next run). True single-rename atomicity needs
    # a manifest/table format (Delta/Iceberg), documented trade.
    os.rename(path, old_dir)
    os.rename(tmp, path)
    shutil.rmtree(old_dir)
    return n_files


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> DataFrame:
    """Attach a Z-order (Morton) key over 2+ columns as ``__z``.

    Each column is bucketized into ``2^bits`` quantile buckets (one
    distributed ``approxQuantile`` per column — no global sort), then
    the bucket bits are interleaved so file ranges stay narrow on EVERY
    clustered dimension at once. Linear ``cluster_by`` gives perfect
    skipping on its leading key and none on the others; Z-order trades
    a little of each — the multi-dimensional data-skipping layout
    (Delta/Iceberg OPTIMIZE ZORDER equivalent on plain parquet).

    The bucket mapping is a codegen'd expression (count of boundaries ≤
    value via a literal boundary array), not a UDF.
    """
    n_buckets = 1 << bits
    out = df
    bucket_cols = []
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE multi-column sketch pass — the per-column loop form scans the
    # full input len(cols) times before the write starts
    all_bounds = dict(zip(cols, df.approxQuantile(list(cols), qs, 0.001)))
    for c in cols:
        bounds = all_bounds[c]
        # strictly increasing boundary list (dedup ties from skew)
        uniq: list[float] = []
        for b in bounds:
            if not uniq or b > uniq[-1]:
                uniq.append(b)
        arr = F.array(*[F.lit(float(b)) for b in uniq])
        bcol = F.size(
            F.filter(arr, lambda b: b <= F.col(c).cast("double"))
        ).cast("long")
        name = f"__zb_{c}"
        out = out.withColumn(name, bcol)
        bucket_cols.append(name)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, name in enumerate(bucket_cols):
            bit = F.shiftright(F.col(name), i).bitwiseAND(F.lit(1))
            z = z + (bit.cast("long") * F.lit(1 << (i * len(bucket_cols) + j))
                     ).cast("long")
    return out.withColumn("__z", z).drop(*bucket_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    files: int = 8,
    bits: int = 8,
    compression: str = "zstd",
) -> None:
    """Write parquet Z-ordered on ``cols``: range-partition and sort by
    the Morton key so each file covers a narrow range of every
    clustered dimension (footer min/max then skip files for predicates
    on ANY of them)."""
    keyed = zorder_key(df, cols, bits=bits)
    (
        keyed.repartitionByRange(files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(path)
    )
