"""Session factory contract: UTC pinning and its NTZ-inference coupling."""

from __future__ import annotations

import pytest

from sql_database_to_elastic_datalake_spark.session import (
    ensure_session_conf,
    get_spark,
)


def test_non_utc_timezone_override_rejected(spark):
    with pytest.raises(ValueError, match="pinned to UTC"):
        get_spark(extra_conf={"spark.sql.session.timeZone": "America/New_York"})


def test_engine_conf_applied(spark):
    ensure_session_conf(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false"
    )


def test_dataframe_debugging_off(spark):
    """get_spark turns pyspark's per-Column call-site capture off. The
    conf is static, so it takes effect only through the builder of the
    process's first session; ensure_session_conf leaves it alone."""
    from pyspark.errors.utils import is_debugging_enabled

    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    assert is_debugging_enabled() is False
    assert not spark.conf.isModifiable(key)
    ensure_session_conf(spark)
    assert spark.conf.get(key) == "false"


def test_rocksdb_state_store_tier(spark, tmp_path):
    """The production streaming tier — THE DEFAULT since r5 (decided by
    the sf1 A/B in scripts/bench_streaming_state.py): engine sessions
    start on the RocksDB provider (bounded-memory state — the only safe
    posture for billion-key state at 100 TB). Pin the default, prove a
    stateful query actually executes under it, and confirm
    enable_rocksdb_state_store still converges an external session."""
    import os

    from pyspark.sql import functions as F

    from sql_database_to_elastic_datalake_spark.session import (
        ROCKSDB_STATE_STORE_CONF,
        enable_rocksdb_state_store,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    # the engine-built session fixture already defaults to RocksDB
    assert spark.conf.get(key) == ROCKSDB_STATE_STORE_CONF[key]
    before = spark.conf.get(key, None)
    try:
        enable_rocksdb_state_store(spark)
        assert spark.conf.get(key) == ROCKSDB_STATE_STORE_CONF[key]

        src = os.path.join(str(tmp_path), "src")
        spark.createDataFrame(
            [("a",), ("a",), ("b",)], "k string"
        ).write.parquet(src)
        q = (
            spark.readStream.schema("k string").parquet(src)
            .groupBy("k").agg(F.count("*").alias("n"))
            .writeStream.format("memory").queryName("t_rocksdb")
            .outputMode("complete")
            .option(
                "checkpointLocation", os.path.join(str(tmp_path), "ck")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r["k"]: r["n"] for r in spark.sql(
            "select * from t_rocksdb").collect()}
        assert got == {"a": 2, "b": 1}
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_bench_pins_and_records_state_store_provider(spark):
    """r12 verdict #1: the bench artifact of record must run its
    streaming members under the pinned RocksDB tier and stamp the
    provider into the JSON — two rounds of 'state-store IO drift' on
    streaming_window_counts were a protocol defect, not a plan one."""
    import importlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    bench = importlib.import_module("bench")
    ensure_session_conf(spark)
    assert bench._state_store_tag(spark) == "rocksdb"
    # the A/B harness's HDFS revert is detected, never mislabeled
    from sql_database_to_elastic_datalake_spark.session import (
        HDFS_STATE_STORE_CONF,
        enable_rocksdb_state_store,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    try:
        spark.conf.set(key, HDFS_STATE_STORE_CONF[key])
        assert bench._state_store_tag(spark) == "hdfs"
        enable_rocksdb_state_store(spark)
        assert bench._state_store_tag(spark) == "rocksdb"
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_bench_canary_gate_refuses_contended_records():
    """r14 (r13 verdict #1): the canary exists to DETECT host
    contention; the gate makes it act — a committed-artifact mode run
    (--sf1/--all) with canary ratio above the threshold must refuse
    (nonzero exit), so a contended reading can never become the
    artifact of record. The driver's plain per-round run stays
    ungated, and --allow-contended is a diagnostic escape only."""
    import importlib
    import sys
    from pathlib import Path

    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    bench = importlib.import_module("bench")

    # contended + record mode -> refuse
    with pytest.raises(SystemExit, match="contended"):
        bench.check_canary_gate(1.276, record_mode=True)
    # quiet host -> pass
    bench.check_canary_gate(1.05, record_mode=True)
    # exactly at threshold -> pass (the gate is ">", documented ~1.1)
    bench.check_canary_gate(bench.CANARY_GATE_THRESHOLD,
                            record_mode=True)
    # driver per-round run (not a record) -> never refuses
    bench.check_canary_gate(1.9, record_mode=False)
    # no canary computed (partial member list) -> nothing to gate
    bench.check_canary_gate(None, record_mode=True)
    # diagnostic escape
    bench.check_canary_gate(1.9, record_mode=True,
                            allow_contended=True)


def test_release_local_checkpoints(spark):
    """r15 (r14 verdict #3): the bench releases localCheckpoint blocks
    between members so a record run's spread is not driven by
    block-manager accumulation. The helper must unpersist every
    persistent RDD and leave the context clean."""
    from sql_database_to_elastic_datalake_spark.session import (
        release_local_checkpoints,
    )

    def n_persistent():
        it = (spark.sparkContext._jsc.sc().getPersistentRDDs()
              .values().iterator())
        n = 0
        while it.hasNext():
            it.next()
            n += 1
        return n

    release_local_checkpoints(spark)  # clean slate
    df = spark.range(100).localCheckpoint()
    assert df.count() == 100
    assert n_persistent() >= 1
    released = release_local_checkpoints(spark)
    assert released >= 1
    assert n_persistent() == 0


def test_canary_pins_match_source_artifacts():
    """r15 (r14 verdict #1): canary pins must be VERBATIM min-of-3
    values from their stated source artifacts — a hand-adjusted pin
    would let a contended host read as quiet (gate-rigging). sf0.1
    pins come from BENCH_sf01_r14.json (newest gate-passing quiet
    sf0.1 record); sf1 pins from BENCH_sf1_r12.json (last quiet sf1
    artifact whose members' code already had today's shape)."""
    import importlib
    import json
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root))
    bench = importlib.import_module("bench")

    sf01 = json.loads((root / "BENCH_sf01_r14.json").read_text())
    for q, pin in bench.CANARY_PINS.items():
        assert sf01["queries"][q] == pin, q
    sf1 = json.loads((root / "BENCH_sf1_r12.json").read_text())
    for q, pin in bench.SF1_CANARY_PINS.items():
        assert sf1["queries"][q] == pin, q
