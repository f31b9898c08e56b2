"""Partition fan-out: ``ensure_min_partitions`` spreads scans and leaves
shuffle-bearing plans alone."""


def test_ensure_min_partitions_fans_out_scans_not_shuffled_plans(spark, tmp_path):
    """Eleventh-review fix: probing df.rdd under AQE finalizes the
    adaptive plan and EXECUTES upstream shuffle stages (which the real
    action then re-runs). Plans already containing a shuffle-producing
    node pass through unprobed; pure scans still fan out."""
    from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

    p = str(tmp_path / "one_group")
    spark.range(1000).selectExpr(
        "id", "cast(id as string) as text"
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fanned = ensure_min_partitions(scan)
    assert fanned.rdd.getNumPartitions() >= target  # scan: fanned out

    agged = scan.groupBy("text").count()
    out = ensure_min_partitions(agged)
    assert out is agged  # shuffle-bearing plan: passed through untouched


def test_ensure_min_partitions_ignores_identifier_lookalikes(spark, tmp_path):
    """Round-8 fix: node-name matching is anchored to plan-tree positions.
    Column names are printed in the same plan string, so a scan whose
    columns are called `Sorted` / `joinId` must NOT be mistaken for a
    shuffle-bearing plan (which would silently skip the fan-out and
    reintroduce the 1-of-32-cores trap); a real Sort node must still
    pass through untouched."""
    from pbx_ds_ocr_server_spark.partitioning import ensure_min_partitions

    p = str(tmp_path / "lookalike")
    spark.range(1000).selectExpr(
        "id",
        "cast(id as string) as Sorted",
        "cast(id as string) as joinId",
        "cast(id as string) as WindowedAggregateExceptJoin",
    ).coalesce(1).write.parquet(p)
    scan = spark.read.parquet(p)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert ensure_min_partitions(scan).rdd.getNumPartitions() >= target

    ordered = scan.orderBy("id")  # real Sort node, at a tree position
    assert ensure_min_partitions(ordered) is ordered
