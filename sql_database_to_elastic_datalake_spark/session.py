"""SparkSession factory with scale-oriented defaults.

The defaults here are chosen for correctness-stability (UTC timestamps,
Arrow transfers) and for behavior that survives a 1000-executor cluster
(AQE on, skew-join handling on, partition coalescing on). ``local[*]``
is only the test harness; nothing below assumes single-node execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The RocksDB streaming state tier — THE DEFAULT since r5 (see its
#: _DEFAULT_CONF entry for the measurement that decided it). Kept as a
#: named constant for sessions built outside this factory and for the
#: A/B harness. Runtime-settable, but it only takes effect for queries
#: STARTED after it is set — apply before .start().
ROCKSDB_STATE_STORE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}

#: Conf applied to every session we build. All of these are also safe to
#: set on an existing session at runtime except the codegen/arrow ones,
#: which are static — hence ``ensure_session_conf`` below for sessions we
#: did not create (e.g. the driver harness's session).
_DEFAULT_CONF = {
    # Deterministic timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting — essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables in this engine are small; 64 MB threshold lets
    # AQE convert dim joins to broadcast automatically.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet files whose footers carry isAdjustedToUTC=false would
    # otherwise surface as TIMESTAMP_NTZ, which event-time operators
    # (withWatermark) reject; with a pinned UTC session the instant
    # semantics are identical, so read them as plain TIMESTAMP.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Write timestamps as INT64 micros, not the deprecated INT96: INT96
    # carries no logical-type annotation, so external readers (pyarrow,
    # DuckDB) must guess its semantics — and pyarrow surfaces it as
    # nanos, which is exactly the ambiguity load_table has to code
    # around for foreign files.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Scan split sizing. The 4 MB default open-cost dates to HDFS-era
    # seek amortization; on parquet (footer-indexed, column-pruned reads)
    # it forces small-but-CPU-heavy tables into 2-3 splits and idles the
    # rest of the cluster. 512 KB keeps small tables parallel while large
    # files still split by maxPartitionBytes (128 MB), which is what
    # binds at 100 TB. Trade-off: lakes with millions of uncompacted tiny
    # files pack less tightly — compaction is the right fix there, not a
    # coarser open cost.
    "spark.sql.files.openCostInBytes": str(512 * 1024),
    # Deeply composed span/interval trees (nested exists/transform
    # lambdas) can exceed the analyzer's 100-iteration Resolution
    # fixed point — a RuntimeException 500 for a semantically valid
    # query (found by the r10 span differential harness). 1000 covers
    # any tree the clause-count caps admit; plain queries never get
    # near either bound.
    "spark.sql.analyzer.maxIterations": "1000",
    # Heap for sessions THIS engine creates (bench/selfcheck/CLI): the
    # local-mode default of 1g is sized for toy examples — a single
    # quadratic-verifier demo at sf0.1 OOMs it. Static conf: only takes
    # effect at JVM launch; on an externally created session (the driver
    # harness's) it is a silent no-op, which is the desired behavior.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Streaming state store: RocksDB BY DEFAULT since r5. The HDFS
    # provider keeps every state row on the executor heap — a GC spiral
    # when stateful operators hold billions of keys at 100 TB; RocksDB
    # bounds memory and changelog checkpointing ships per-batch deltas.
    # Decided by measurement, not caution (r4 verdict #7): at sf1 the
    # full streaming family runs 15.4 s under RocksDB vs 16.1 s under
    # HDFS (min-of-3 per query; worst single ratio 1.21x on
    # streaming_dedup_keys ≈ 0.2 s absolute, 5 of 7 queries faster).
    # Bench discontinuity: BENCH_r05 streaming numbers are the first
    # recorded under RocksDB. scripts/bench_streaming_state.py re-runs
    # the A/B; HDFS_STATE_STORE_CONF reverts for comparison.
    **ROCKSDB_STATE_STORE_CONF,
}


def get_spark(
    app_name: str = "sql-database-to-elastic-datalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when no
    cluster master is configured in the environment.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Disabling TIMESTAMP_NTZ inference is instant-preserving ONLY under
    # a UTC session timezone: NTZ-written parquet read as plain TIMESTAMP
    # in any other zone silently shifts instants. ensure_session_conf
    # re-pins UTC after getOrCreate regardless, so a non-UTC extra_conf
    # would be silently clobbered — reject it instead of drifting.
    if conf.get("spark.sql.session.timeZone", "UTC") != "UTC":
        raise ValueError(
            "engine sessions are pinned to UTC "
            "(spark.sql.parquet.inferTimestampNTZ is disabled, which is "
            "only instant-preserving under UTC); normalize timestamps in "
            "queries instead of overriding spark.sql.session.timeZone"
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_conf(spark)
    return spark


#: Spark's shipped default, retained for A/B comparison
#: (scripts/bench_streaming_state.py) and for reverting on hosts where
#: the RocksDB JNI tier is unavailable.
HDFS_STATE_STORE_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
}


def enable_rocksdb_state_store(spark: SparkSession) -> SparkSession:
    """Switch subsequently-started streaming queries to the RocksDB
    state store (see ``ROCKSDB_STATE_STORE_CONF``). Engine-built
    sessions already default to it (r5); this remains for externally
    created sessions (the driver harness's) and for flipping back after
    an ``HDFS_STATE_STORE_CONF`` comparison run."""
    for k, v in ROCKSDB_STATE_STORE_CONF.items():
        spark.conf.set(k, v)
    return spark


def release_local_checkpoints(spark: SparkSession) -> int:
    """Unpersist every persistent RDD in the context — localCheckpoint
    blocks included — and return how many were released.

    r15 (r14 verdict #3): the dedup operators localCheckpoint their
    signature/set/edge relations; the blocks are freed only when the
    Python handles are GC'd AND the async ContextCleaner runs, so a
    bench record run (3 constructions × 88 members) accumulates dozens
    of checkpoint block sets and the block-manager pressure shows up
    as run-to-run spread on the heavy dedup members (r14 recorded
    simhash runs [8.99, 4.12, 17.41] against an isolated steady
    ~2.3 s). The bench loop calls this BETWEEN members, outside every
    timed region, after the member's lazy cost metrics have been read.

    CAUTION: a DataFrame whose lineage was truncated by
    ``localCheckpoint`` cannot be recomputed after its blocks are
    released — only call this when every frame built so far is done
    (the bench re-constructs each member from scratch).
    """
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(False)
        n += 1
    return n


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally created session.

    The driver harness hands us its own SparkSession; timestamps must be
    UTC-stable and AQE on for our plans to behave as designed.
    """
    for key in (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.parquet.outputTimestampType",
        "spark.sql.files.openCostInBytes",
        "spark.sql.analyzer.maxIterations",
        # runtime-settable (a SQLConf, not a static conf): without it a
        # driver-harness session builds every localrel.local_frame
        # relation through the pickle/Python-RDD path — ~0.4 s of
        # Python-worker round-trip per downstream action (guide §4)
        "spark.sql.execution.arrow.pyspark.enabled",
        # the r5 RocksDB default reaches driver-harness sessions too —
        # dynamic conf, read at stream start
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
    ):
        try:
            spark.conf.set(key, _DEFAULT_CONF[key])
        except Exception:
            # Static conf on a live session — keep whatever it has.
            pass
    return spark
