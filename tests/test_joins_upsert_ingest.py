from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_database_to_elastic_datalake_spark.operators.joins import (
    anti_join,
    attach_children,
    parent_lookup,
    semi_join,
)
from sql_database_to_elastic_datalake_spark.sinks.upsert import merge_latest_wins
from sql_database_to_elastic_datalake_spark.sinks.writer import write_lake
from sql_database_to_elastic_datalake_spark.sources.ingest import (
    ingest_summary,
    validate_split,
)


def test_parent_lookup_self_join(spark):
    df = spark.createDataFrame(
        [Row(id=1, parentId=None, name="root"),
         Row(id=2, parentId=1, name="child"),
         Row(id=3, parentId=99, name="orphan")]
    )
    out = parent_lookup(df, "parentId", "id", {"name": "parent_name"})
    got = {r["id"]: r["parent_name"] for r in out.collect()}
    assert got == {1: None, 2: "root", 3: None}


def test_attach_children(spark):
    parents = spark.createDataFrame([Row(pid=1, n="a"), Row(pid=2, n="b")])
    children = spark.createDataFrame(
        [Row(fk=1, v="z"), Row(fk=1, v="y"), Row(fk=1, v="z")]
    )
    out = attach_children(parents, children, "pid", "fk", "v", "kids")
    got = {r["pid"]: r["kids"] for r in out.collect()}
    assert got == {1: "y,z", 2: None}


def test_semi_anti_join(spark):
    left = spark.createDataFrame([Row(k=1), Row(k=2), Row(k=3)])
    right = spark.createDataFrame([Row(j=2), Row(j=2), Row(j=3)])
    semi = semi_join(left, right, left["k"] == right["j"])
    anti = anti_join(left, right, left["k"] == right["j"])
    assert sorted(r["k"] for r in semi.collect()) == [2, 3]
    assert [r["k"] for r in anti.collect()] == [1]


def test_merge_latest_wins_update_beats_base_on_tie(spark):
    base = spark.createDataFrame([Row(k=1, v="old", ver=5), Row(k=2, v="keep", ver=1)])
    updates = spark.createDataFrame([Row(k=1, v="new", ver=5), Row(k=3, v="ins", ver=1)])
    out = merge_latest_wins(base, updates, keys=["k"], version_col="ver")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_validate_split_and_summary(spark):
    df = spark.createDataFrame(
        [Row(name="ok", v=1), Row(name=None, v=2), Row(name="neg", v=-1)]
    )
    rules = [
        (F.col("name").isNull(), "missing required field: name"),
        (F.col("v") < 0, "negative value"),
    ]
    accepted, rejected = validate_split(df, rules)
    assert [r["name"] for r in accepted.collect()] == ["ok"]
    reasons = {r["reject_reason"] for r in rejected.collect()}
    assert reasons == {"missing required field: name", "negative value"}
    summary = {r["outcome"]: r["n"] for r in ingest_summary(df, rules).collect()}
    assert summary == {
        "accepted": 1,
        "missing required field: name": 1,
        "negative value": 1,
    }


def test_write_modes(spark, tmp_path):
    df = spark.createDataFrame([Row(id=1, name="x")])
    path = os.path.join(str(tmp_path), "t")
    write_lake(df, path, mode="snapshot")
    write_lake(df, path, mode="history")
    assert spark.read.parquet(path).count() == 2  # append kept both
    write_lake(df, path, mode="snapshot")
    assert spark.read.parquet(path).count() == 1  # overwrite reset
    write_lake(df, path, mode="ensure")
    assert spark.read.parquet(path).count() == 1  # ignore: no-op


def test_partitioned_write_prunes(spark, tmp_path):
    import os

    from pyspark.sql import functions as F
    from sql_database_to_elastic_datalake_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    path = os.path.join(str(tmp_path), "events_by_day")
    write_lake(ev, path, partition_by=["day"])

    back = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the filter must prune at the partition-directory level, not post-scan
    assert "PartitionFilters: [" in plan and "2024-01-05" in plan.split(
        "PartitionFilters"
    )[1][:200], plan[:1500]
    got = back.count()
    want = ev.filter(F.col("day") == "2024-01-05").count()
    assert got == want > 0
    # zstd default is readable and round-trips
    files = [f for root, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    assert files and spark.read.parquet(path).count() == ev.count()


def test_cluster_by_write_gives_disjoint_file_ranges(spark, tmp_path):
    """cluster_by must produce files whose parquet footer min/max ranges
    on the cluster key are pairwise disjoint (boundaries may touch) —
    the property that lets selective scans skip whole files. An
    unclustered multi-task write of the same data does not have it.
    """
    import glob as _glob

    import pyarrow.parquet as pq

    df = spark.range(0, 10_000).select(
        (F.col("id") * 37 % 1000).alias("k"), F.col("id").alias("v")
    )

    def file_ranges(path):
        out = []
        for f in sorted(_glob.glob(os.path.join(path, "*.parquet"))):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(0).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(0).statistics.max
                for i in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return sorted(out)

    clustered = os.path.join(str(tmp_path), "clustered")
    write_lake(df, clustered, cluster_by=["k"], cluster_files=8)
    ranges = file_ranges(clustered)
    assert len(ranges) > 1
    for (_, prev_hi), (cur_lo, _) in zip(ranges, ranges[1:]):
        assert cur_lo >= prev_hi  # disjoint up to shared boundary key

    plain = os.path.join(str(tmp_path), "plain")
    write_lake(df.repartition(8), plain)
    pranges = file_ranges(plain)
    assert any(
        cur_lo < prev_hi
        for (_, prev_hi), (cur_lo, _) in zip(pranges, pranges[1:])
    )


def test_compact_lake_merges_small_files(spark, tmp_path):
    from sql_database_to_elastic_datalake_spark.sinks.writer import compact_lake

    path = os.path.join(str(tmp_path), "frag")
    # simulate streaming append debris: 20 single-row files
    for i in range(20):
        spark.createDataFrame([(i, f"v{i}")], "id long, v string").write.mode(
            "append"
        ).parquet(path)
    import glob as _glob

    assert len(_glob.glob(os.path.join(path, "*.parquet"))) >= 20
    before = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    n = compact_lake(spark, path, target_file_bytes=1 << 30)
    files = _glob.glob(os.path.join(path, "*.parquet"))
    assert n == 1 and len(files) == 1
    after = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_compact_lake_recovers_crash_between_renames(spark, tmp_path):
    """If a prior compact crashed between os.rename(path, __old__) and
    os.rename(__compact__, path), the ONLY live copy of the table is at
    __old__. The recovery sweep must restore it, not rmtree it — the
    regression class was a sweep that deleted both copies and then
    failed the read with the data already gone."""
    import shutil

    from sql_database_to_elastic_datalake_spark.sinks.writer import compact_lake

    path = os.path.join(str(tmp_path), "tbl")
    spark.range(50).withColumnRenamed("id", "k").write.parquet(path)
    before = {r["k"] for r in spark.read.parquet(path).collect()}
    # simulate the mid-swap crash state: table at __old__, a finished
    # rewrite at __compact__, path absent
    os.rename(path, path + ".__old__")
    shutil.copytree(path + ".__old__", path + ".__compact__")
    n = compact_lake(spark, path, target_file_bytes=1 << 30)
    assert n >= 1
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__compact__")
    after = {r["k"] for r in spark.read.parquet(path).collect()}
    assert after == before


def test_compact_lake_clears_dead_old_when_table_present(spark, tmp_path):
    """The opposite state: the swap completed but the final rmtree was
    cut short — path holds the live table and __old__ is a dead copy.
    Recovery must keep path's contents and clear the leftovers."""
    import shutil

    from sql_database_to_elastic_datalake_spark.sinks.writer import compact_lake

    path = os.path.join(str(tmp_path), "tbl2")
    spark.range(10).withColumnRenamed("id", "k").write.parquet(path)
    shutil.copytree(path, path + ".__old__")
    shutil.copytree(path, path + ".__compact__")
    before = {r["k"] for r in spark.read.parquet(path).collect()}
    compact_lake(spark, path, target_file_bytes=1 << 30)
    assert not os.path.exists(path + ".__old__")
    assert not os.path.exists(path + ".__compact__")
    assert {r["k"] for r in spark.read.parquet(path).collect()} == before


def test_schema_evolution_merge_read(spark, tmp_path):
    """History tables evolve: later appends may add columns. mergeSchema
    reconciles the footers; old rows surface NULL for new columns —
    the plain-parquet schema-evolution contract."""
    path = os.path.join(str(tmp_path), "evolve")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(2, "b", "extra")], "id long, v string, note string"
    ).write.mode("append").parquet(path)
    got = {
        (r["id"], r["v"], r["note"])
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got == {(1, "a", None), (2, "b", "extra")}


def test_dynamic_partition_pruning_on_dim_join(spark, tmp_path):
    """Joining a date-partitioned fact to a *filtered* dim must prune
    fact partitions at runtime (DPP): the dim filter's values are not
    known at plan time, so static PartitionFilters can't help — the
    plan must carry a dynamicpruning subquery on the partition column.
    At 100 TB this is the difference between scanning the whole fact
    table and only the days the dim selects."""
    import os

    from pyspark.sql import functions as F
    from sql_database_to_elastic_datalake_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date(F.col("ts"))
    )
    path = os.path.join(str(tmp_path), "events_by_day")
    write_lake(ev, path, partition_by=["day"])

    dim = spark.createDataFrame(
        [("2024-01-05", "launch"), ("2024-01-06", "sale")], ["d", "campaign"]
    ).select(F.col("d").cast("date").alias("d"), "campaign")
    fact = spark.read.parquet(path)
    joined = fact.join(dim.filter(F.col("campaign") == "launch"),
                       fact["day"] == dim["d"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    rows = joined.count()
    want = ev.filter(F.col("day") == "2024-01-05").count()
    assert rows == want > 0


def test_zorder_write_skips_on_both_dimensions(spark, tmp_path):
    """Z-order vs linear clustering: linear cluster_by(user_id) makes
    each file narrow on user_id but full-width on value; the Morton
    layout must be substantially narrower than that on value while
    still far narrower than global on user_id — the multi-dimensional
    skipping property."""
    import os

    import pyarrow.parquet as pq
    from sql_database_to_elastic_datalake_spark.sinks.writer import write_zordered
    from sql_database_to_elastic_datalake_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value"
    )
    zpath = os.path.join(str(tmp_path), "z")
    lpath = os.path.join(str(tmp_path), "linear")
    write_zordered(ev, zpath, ["user_id", "value"], files=8, bits=6)
    write_lake(ev, lpath, cluster_by=["user_id"], cluster_files=8)

    def spans(path, col):
        out = []
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            out.append(hi - lo)
        return out

    def mean(xs):
        return sum(xs) / len(xs)

    g_user = max(spans(zpath, "user_id")) if False else None
    rows = ev.agg(
        F.max("user_id").alias("mu"), F.min("user_id").alias("nu"),
        F.max("value").alias("mv"), F.min("value").alias("nv"),
    ).collect()[0]
    global_user = rows["mu"] - rows["nu"]
    global_value = rows["mv"] - rows["nv"]

    z_user, z_value = mean(spans(zpath, "user_id")), mean(spans(zpath, "value"))
    l_value = mean(spans(lpath, "value"))
    # linear layout can't skip on the non-leading dimension
    assert l_value > 0.5 * global_value, (l_value, global_value)
    # z-order: BOTH dimensions far narrower than global, and the
    # non-leading dimension far narrower than the linear layout's
    assert z_user < 0.7 * global_user, (z_user, global_user)
    assert z_value < 0.5 * global_value, (z_value, global_value)
    assert z_value < 0.5 * l_value, (z_value, l_value)
    # round-trips all rows
    assert spark.read.parquet(zpath).count() == ev.count()


def test_quality_operators_detect_violations(spark):
    from pyspark.sql import Row

    from sql_database_to_elastic_datalake_spark.operators import quality

    parent = spark.createDataFrame([Row(pk=1), Row(pk=2)])
    child = spark.createDataFrame(
        [Row(fk=1, v="a"), Row(fk=2, v="b"), Row(fk=3, v="orphan"),
         Row(fk=None, v="nullkey")]
    )
    orphans = quality.orphan_rows(child, parent, "fk", "pk").collect()
    assert {r["v"] for r in orphans} == {"orphan", "nullkey"}
    nulls = quality.null_violations(child, ["fk"]).collect()[0]
    assert nulls["n_null_rows"] == 1
    dups = quality.duplicate_key_rows(
        spark.createDataFrame([Row(k=1), Row(k=1), Row(k=1), Row(k=2)]), ["k"]
    ).collect()
    assert [(r["k"], r["__n"]) for r in dups] == [(1, 3)]
