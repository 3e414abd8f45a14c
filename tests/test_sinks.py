"""Atomic sink discipline: dynamic partition overwrite idempotency and
versioned snapshot publish."""

from __future__ import annotations

from pyp_etl_pipeline_spark.sources import sinks


def test_partitioned_overwrite_touches_only_own_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    day1 = spark.createDataFrame([("2024-01-01", 1), ("2024-01-02", 2)], "day string, v int")
    sinks.write_partitioned_overwrite(day1, path, ["day"])

    # re-publish ONLY day 2 with corrected data: day 1 must survive
    day2_fixed = spark.createDataFrame([("2024-01-02", 99)], "day string, v int")
    sinks.write_partitioned_overwrite(day2_fixed, path, ["day"])

    # partition values read back type-inferred (date) — compare as strings
    out = {str(r["day"]): r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {"2024-01-01": 1, "2024-01-02": 99}


def test_partitioned_overwrite_retry_idempotent(spark, tmp_path):
    path = str(tmp_path / "t2")
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sinks.write_partitioned_overwrite(batch, path, ["k"])
    sinks.write_partitioned_overwrite(batch, path, ["k"])  # retry same batch
    assert spark.read.parquet(path).count() == 2  # no duplication


def test_versioned_snapshot_pointer_flip(spark, tmp_path):
    root = str(tmp_path / "snap")
    v1 = spark.createDataFrame([(1,)], "x int")
    sinks.write_versioned_snapshot(v1, root, version="001")
    assert [r["x"] for r in sinks.read_current_snapshot(spark, root).collect()] == [1]

    v2 = spark.createDataFrame([(2,)], "x int")
    sinks.write_versioned_snapshot(v2, root, version="002")
    assert [r["x"] for r in sinks.read_current_snapshot(spark, root).collect()] == [2]
    # the old snapshot remains readable for time-travel/debugging
    assert spark.read.parquet(f"{root}/v=001").count() == 1


def test_write_sharded_roundtrip(spark, tmp_path):
    from pyp_etl_pipeline_spark.operators import export

    df = spark.createDataFrame([(i, f"doc {i}") for i in range(200)], "doc_id long, text string")
    out = str(tmp_path / "shards")
    export.write_sharded(df, out, n_shards=8)

    back = spark.read.parquet(out)
    assert back.count() == 200
    # membership is key-determined: recomputing the assignment matches
    expected = {r["doc_id"]: r["shard"] for r in export.shard_assign(df, n_shards=8).collect()}
    for r in back.select("doc_id", "shard").collect():
        assert int(r["shard"]) == expected[r["doc_id"]]
    # every shard directory exists and no shard is empty at this size
    sizes = {r["shard"]: r["n"] for r in back.groupBy("shard").agg(__import__("pyspark").sql.functions.count("*").alias("n")).collect()}
    assert len(sizes) == 8 and all(v > 0 for v in sizes.values())


def test_shard_assign_stable_under_repartition(spark):
    from pyp_etl_pipeline_spark.operators import export

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["shard"] for r in export.shard_assign(df, n_shards=16).collect()}
    b = {
        r["doc_id"]: r["shard"]
        for r in export.shard_assign(df.repartition(13), n_shards=16).collect()
    }
    assert a == b


def test_zvalue_interleave_and_locality(spark):
    """Morton key: exact interleave on known bits; z-range cells bound
    both dimensions (the pruning property a single-column sort lacks)."""
    from pyspark.sql import functions as F

    from pyp_etl_pipeline_spark.operators import export

    # x=0b101 (5), y=0b011 (3): z = x0 + y0<<1 + x1<<2 + y1<<3 + x2<<4 + y2<<5
    #   = 1 + 2 + 0 + 8 + 16 + 0 = 27
    df = spark.createDataFrame([(5, 3)], "x long, y long")
    assert df.select(export.zvalue("x", "y", bits=3).alias("z")).collect()[0]["z"] == 27

    # locality: an 8-wide z-cell over a 4x4 grid spans at most a 2x4 or
    # 4x2 tile — both dims bounded; a row-major sort bounds only one
    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    cells = (
        grid.withColumn("z", export.zvalue("x", "y", bits=4))
        .groupBy(F.expr("z DIV 16").alias("cell"))
        .agg(F.max("x").alias("mx"), F.min("x").alias("nx"),
             F.max("y").alias("my"), F.min("y").alias("ny"))
        .collect()
    )
    for r in cells:
        assert r["mx"] - r["nx"] <= 3 and r["my"] - r["ny"] <= 3, r


def test_plan_compaction_contiguous_target_groups(spark):
    from pyp_etl_pipeline_spark.operators.export import plan_compaction

    # 20 "files" of varying sizes, ordered by name
    rows = [(f"f{i:02d}", (i * 13) % 40 + 5) for i in range(20)]
    df = spark.createDataFrame(rows, "name string, bytes long")
    plan = plan_compaction(df, "bytes", "name", target_size=60).collect()
    by_group = {}
    for r in sorted(plan, key=lambda r: r["name"]):
        by_group.setdefault(r["merge_group"], []).append(r)
    groups = sorted(by_group)
    # groups are contiguous 0..G and order-preserving over file names
    assert groups == list(range(len(groups)))
    last = None
    for g in groups:
        names = [r["name"] for r in by_group[g]]
        if last is not None:
            assert names[0] > last
        last = names[-1]
        # every group except possibly the last stays under target + max file slack;
        # the first file of each group starts before the target boundary
        start_offsets = min(int(r["merge_group"]) for r in by_group[g])
        assert start_offsets == g
    total = sum(r["bytes"] for r in plan)
    assert total == sum(b for _, b in rows)
    # partition invariance
    again = plan_compaction(df.repartition(7), "bytes", "name", target_size=60).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, plan))


def test_scratch_path_stable_within_process_and_tagged():
    from pyp_etl_pipeline_spark.tables import scratch_path

    a, b = scratch_path("tag_a"), scratch_path("tag_b")
    assert a != b and a.startswith("/") and "tag_a" in a
    assert scratch_path("tag_a") == a  # stable within a process
    import os

    assert str(os.getpid()) in os.path.basename(a)  # process-unique token
