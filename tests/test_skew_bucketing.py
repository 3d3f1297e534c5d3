from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.operators.skew import (
    add_salt,
    salted_agg,
    salted_join,
)
from sql_database_to_elastic_datalake_spark.sinks.writer import write_bucketed_table


@pytest.fixture(scope="module")
def skewed(spark):
    # key "hot" holds 90% of rows
    rows = [Row(k="hot", id=i, v=1.0) for i in range(90)]
    rows += [Row(k=f"cold{i}", id=100 + i, v=2.0) for i in range(10)]
    return spark.createDataFrame(rows)


def test_add_salt_deterministic_and_bounded(spark, skewed):
    a = add_salt(skewed, 8, deterministic_from="id").collect()
    b = add_salt(skewed, 8, deterministic_from="id").collect()
    assert [r["_salt"] for r in a] == [r["_salt"] for r in b]
    assert all(0 <= r["_salt"] < 8 for r in a)
    # the hot key actually spreads across salts
    hot_salts = {r["_salt"] for r in a if r["k"] == "hot"}
    assert len(hot_salts) > 1


def test_salted_agg_equals_plain(spark, skewed):
    plain = {
        (r["k"]): (r["n"], r["s"])
        for r in skewed.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r["k"]): (r["n"], r["s"])
        for r in salted_agg(
            skewed,
            ["k"],
            {"n": F.count("*"), "s": F.sum("v")},
            {"n": F.sum("n"), "s": F.sum("s")},
            n_salts=8,
            deterministic_from="id",
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, skewed):
    dim = spark.createDataFrame(
        [Row(dk="hot", label="H"), Row(dk="cold3", label="C3")]
    )
    plain = sorted(
        (r["id"], r["label"])
        for r in skewed.join(dim, skewed["k"] == dim["dk"], "left").collect()
    )
    salted = sorted(
        (r["id"], r["label"])
        for r in salted_join(
            skewed, dim, "k", "dk", n_salts=4, deterministic_from="id"
        ).collect()
    )
    assert salted == plain


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    orders = spark.createDataFrame([Row(ok=i, x=i * 10) for i in range(100)])
    lines = spark.createDataFrame(
        [Row(lk=i % 100, y=i) for i in range(300)]
    )
    write_bucketed_table(orders, "b_orders", ["ok"], num_buckets=4, sort_by=["ok"])
    write_bucketed_table(lines, "b_lines", ["lk"], num_buckets=4, sort_by=["lk"])
    # tiny test tables would be broadcast (which bypasses bucketed reads);
    # disable broadcast so the plan shows what a fact-×-fact join does
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lines"), F.col("ok") == F.col("lk")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: no shuffle on either side
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
        assert joined.count() == 300
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_runtime_bloom_filter_semi_join_reduction(spark, tmp_path):
    """The 100 TB semi-join-reduction lever: Spark's runtime bloom
    filter (on by default in the engine sessions) injects a
    might_contain probe on the fact side of a shuffle join whose dim
    side is selectively filtered — rows that cannot join are dropped
    BEFORE the shuffle. Invisible at harness scale only because of the
    10 GB application-side threshold; this test lowers the threshold
    to prove the engine's join plans are bloom-compatible, so the
    default behavior engages at real fact-table sizes (SCALE.md)."""
    import os

    from pyspark.sql import functions as F

    fact_p = os.path.join(str(tmp_path), "fact")
    dim_p = os.path.join(str(tmp_path), "dim")
    spark.range(100_000).selectExpr("id AS k", "id % 97 AS v") \
        .write.parquet(fact_p)
    spark.range(1_000).selectExpr("id AS k", "id % 7 AS grp") \
        .write.parquet(dim_p)

    thresh_key = ("spark.sql.optimizer.runtime.bloomFilter."
                  "applicationSideScanSizeThreshold")
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prior_thresh = spark.conf.get(thresh_key)
    prior_bcast = spark.conf.get(bcast_key)
    try:
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        spark.conf.set(thresh_key, "0")
        spark.conf.set(bcast_key, "-1")  # force a shuffle join
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter(F.col("grp") == 3)
        plan = fact.join(dim, "k")._jdf.queryExecution().toString()
        assert "might_contain" in plan
        # and the join still answers correctly under the injected filter
        got = fact.join(dim, "k").count()
        want = spark.read.parquet(dim_p).filter(F.col("grp") == 3).count()
        assert got == want  # 1:1 keys: every surviving dim row joins once
    finally:
        spark.conf.set(thresh_key, prior_thresh)
        spark.conf.set(bcast_key, prior_bcast)


def test_runtime_bloom_engages_on_engine_join_shape(spark):
    """Plan gate for the bloom note (r5 verdict #8): the ENGINE's real
    fact⋈filtered-dim shape (lineitem ⋈ part[p_brand=…], the q14/q19
    family join) must stay bloom-compatible — a refactor that hides the
    dim filter behind a projection barrier would silently lose the
    100 TB semi-join reduction. Measured at sf1 (ROUND6_NOTES): the
    injected might_contain keeps results identical; wall-clock gain is
    modest at single-node sf1 because the parquet scan dominates — the
    reduction's target is the SHUFFLE, which is what grows at 100 TB."""
    import os

    from pyspark.sql import functions as F

    from sql_database_to_elastic_datalake_spark.sources.parquet import (
        load_table,
    )

    sf_dir = "/root/testdata/sf0.01"
    thresh_key = ("spark.sql.optimizer.runtime.bloomFilter."
                  "applicationSideScanSizeThreshold")
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prior_thresh = spark.conf.get(thresh_key)
    prior_bcast = spark.conf.get(bcast_key)
    try:
        spark.conf.set(thresh_key, "0")
        spark.conf.set(bcast_key, "-1")
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part").filter(
            F.col("p_brand") == "Brand#23")
        j = li.join(part, li.l_partkey == part.p_partkey)
        assert "might_contain" in j._jdf.queryExecution().toString()
        # and the reduction must not change the answer
        spark.conf.set(thresh_key, "10GB")
        want = li.join(part, li.l_partkey == part.p_partkey).count()
        spark.conf.set(thresh_key, "0")
        assert j.count() == want
    finally:
        spark.conf.set(thresh_key, prior_thresh)
        spark.conf.set(bcast_key, prior_bcast)
