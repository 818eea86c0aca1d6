"""Storage-layout levers for 100 TB: bucketed co-located joins (no
shuffle at read time) and date-partitioned writes with partition
pruning. Verified against the physical plan, not just results."""

import contextlib

from pyspark.sql import functions as F

from tests.test_plans import count_nodes, plan_of


@contextlib.contextmanager
def conf(spark, key, value):
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def test_bucketed_join_needs_no_shuffle(spark):
    facts = spark.range(1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(50).select(F.col("id").alias("k"), F.lit("d").alias("name"))
    import shutil

    for t in ("bkt_facts", "bkt_dims"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # the session catalog is in-memory: a previous process may have left
        # the managed location behind without a catalog entry to DROP
        shutil.rmtree(f"/tmp/spark_graft_warehouse/{t}", ignore_errors=True)
    facts.write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_facts")
    dims.write.bucketBy(4, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_dims")
    with conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        joined = spark.table("bkt_facts").join(spark.table("bkt_dims"), "k")
        p = plan_of(joined)
        assert count_nodes(p, "Exchange") == 0, p  # co-located buckets
        assert joined.count() == 1000


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "part")
    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("dt"), F.col("id").alias("v")
    )
    df.write.partitionBy("dt").mode("overwrite").parquet(path)
    narrow = spark.read.parquet(path).where(F.col("dt") == "1")
    p = plan_of(narrow)
    assert "PartitionFilters: [" in p
    assert "dt" in p.split("PartitionFilters")[1].split("]")[0]
    assert narrow.count() == 100


def test_sketch_aggregates_within_tolerance(spark):
    from etl_fraud_detection_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    row = ev.agg(
        F.approx_count_distinct("user_id").alias("approx"),
        F.countDistinct("user_id").alias("exact"),
        F.percentile_approx("value", 0.5).alias("p50_sketch"),
        F.percentile("value", F.lit(0.5)).alias("p50_exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact < 0.05  # HLL ±5%
    # t-digest median lands within the central band of the exact median
    assert abs(row.p50_sketch - row.p50_exact) / max(row.p50_exact, 1e-9) < 0.25


def test_bucket_reuse_marker_binds_spec(spark, tmp_path):
    """A reuse_token only skips the rebuild when keys/num_buckets/schema
    also match: re-registering existing files under a different declared
    bucketing would silently drop join rows."""
    from etl_fraud_detection_spark.operators.joins import write_bucketed

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    p = str(tmp_path / "bkt")
    write_bucketed(df, "bkt_spec_t", ["k"], 4, p, reuse_token="src-v1")
    import os
    import time

    mtime = max(
        os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
    )
    # same token + same spec -> skip (no files rewritten)
    time.sleep(0.05)
    write_bucketed(df, "bkt_spec_t", ["k"], 4, p, reuse_token="src-v1")
    assert max(
        os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
    ) == mtime
    # same token, DIFFERENT num_buckets -> marker mismatch -> rebuild
    write_bucketed(df, "bkt_spec_t", ["k"], 8, p, reuse_token="src-v1")
    n_buckets = (
        spark.sql("DESCRIBE TABLE EXTENDED bkt_spec_t")
        .where("col_name = 'Num Buckets'")
        .first()["data_type"]
    )
    assert n_buckets == "8"
    spark.sql("DROP TABLE IF EXISTS bkt_spec_t")


def test_warehouse_partition_spec_is_table_metadata(spark, tmp_path):
    """overwrite records the partition layout; append/compact resolve it
    with no caller discipline, and a conflicting explicit spec raises
    instead of corrupting the directory tree."""
    import glob

    import pytest

    from etl_fraud_detection_spark.pipeline import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(20).select(
        (F.col("id") % 3).alias("part"), F.col("id").alias("v")
    )
    wh.overwrite("l", "t", df, partition_by=["part"])
    # append WITHOUT partition_by must land inside part=*/ dirs
    wh.append("l", "t", df)
    p = wh.path("l", "t")
    vdir = wh._vdir(p, wh._current(p))
    assert glob.glob(vdir + "/part=*/*.parquet")
    assert not glob.glob(vdir + "/*.parquet")
    # compact WITHOUT partition_by preserves the tree
    wh.compact("l", "t")
    vdir = wh._vdir(p, wh._current(p))
    assert glob.glob(vdir + "/part=*/*.parquet")
    assert not glob.glob(vdir + "/*.parquet")
    assert wh.read("l", "t").count() == 40
    # conflicting explicit layout is an error, not silent corruption
    with pytest.raises(ValueError, match="partitioned by"):
        wh.append("l", "t", df, partition_by=["v"])


def test_adopt_empty_version_carries_schema_marker(spark, tmp_path):
    """adopt() of a staged version holding ZERO parquet files (an empty
    PARTITIONED write — e.g. a train split that gated out entirely)
    must carry the source's _SCHEMA marker into the published version:
    _link_tree skips underscore files, and without the marker the
    adopted version fails schema inference on read."""
    from etl_fraud_detection_spark.pipeline import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(5).select(
        (F.col("id") % 2).alias("part"), F.col("id").alias("v")
    )
    wh.overwrite("l", "stage", df.where(F.lit(False)), partition_by=["part"])
    wh.adopt("l", "served", "l", "stage")
    got = wh.read("l", "served")
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["part", "v"]


@contextlib.contextmanager
def jobs_started(spark):
    """Tag the block's Spark jobs with a fresh job group; the yielded
    list holds their ids once the block exits."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-started-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # job events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_warehouse_writes_return_rows_written(spark, tmp_path):
    """overwrite and append count the rows they write in the write job
    itself: non-empty, zero-row (filtered out or limit 0) and
    partitioned frames."""
    from etl_fraud_detection_spark.pipeline import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(20).select((F.col("id") % 3).alias("part"), F.col("id").alias("v"))
    frames = {"rows": df, "where": df.where(F.lit(False)), "limit0": df.limit(0)}
    for name, frame in frames.items():
        n = frame.count()
        assert wh.overwrite("l", name, frame) == n
        assert wh.append("l", name, frame) == n
        assert wh.overwrite("p", name, frame, partition_by=["part"]) == n
        assert wh.append("p", name, frame) == n
        assert wh.read("l", name).count() == wh.read("p", name).count() == 2 * n


def test_warehouse_read_uses_recorded_schema(spark, tmp_path):
    """A non-empty unpartitioned version records its writer's schema, so
    a read starts no Spark job and returns exactly the schema inference
    gives; an append with the same columns and an adopt carry the record
    over. A partitioned version keeps inference, which types a bigint
    partition column as int."""
    import os

    from etl_fraud_detection_spark.pipeline import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(
        F.col("id"), F.col("id").cast("string").alias("s"),
        F.lit("2025-01-02 03:04:05").cast("timestamp_ntz").alias("ts"),
        F.array(F.col("id")).alias("arr"),
    )
    wh.overwrite("l", "t", df)
    wh.append("l", "t", df)
    wh.adopt("l", "served", "l", "t")
    for table in ("t", "served"):
        p = wh.path("l", table)
        vdir = wh._vdir(p, wh._current(p))
        assert os.path.exists(os.path.join(vdir, "_SCHEMA"))
        with jobs_started(spark) as jobs:
            got = wh.read("l", table)
        assert jobs == []
        assert got.schema == spark.read.parquet(vdir).schema
        assert got.count() == 20
    # the check above can see a job: schema inference starts one
    with jobs_started(spark) as jobs:
        spark.read.parquet(vdir)
    assert jobs

    wh.overwrite("p", "t", spark.range(6).select("id", (F.col("id") % 2).alias("cid")),
                 partition_by=["cid"])
    got = wh.read("p", "t")
    assert dict(got.dtypes)["cid"] == "int"
    assert sorted(r.cid for r in got.collect()) == [0, 0, 0, 1, 1, 1]
