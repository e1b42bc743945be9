"""Storage-layout tests: bucketed joins must be exchange-free, date
partitioning must prune at the scan, compaction must preserve content
while reducing file count."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_and_agg_have_no_exchange(spark, tmp_path):
    """Two tables bucketed on the same key join AND aggregate with
    ZERO Exchange: the write-time bucketing pre-pays every shuffle."""
    from stock_market_data_pipeline_spark.operators.layout import (
        write_bucketed,
    )

    # warehouse.dir is static; a LOCATION-scoped database keeps the
    # managed tables inside the test tmpdir instead
    spark.sql(f"CREATE DATABASE IF NOT EXISTS layout_t "
              f"LOCATION '{tmp_path / 'wh'}'")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", "o_totalprice")
    write_bucketed(li, "layout_t.li_b", "l_orderkey", n_buckets=4)
    write_bucketed(orders.withColumnRenamed("o_orderkey", "l_orderkey"),
                   "layout_t.ord_b", "l_orderkey", n_buckets=4)

    a = spark.table("layout_t.li_b")
    b = spark.table("layout_t.ord_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (a.join(b, "l_orderkey")
                  .groupBy("l_orderkey")
                  .agg(F.count("*").alias("n"),
                       F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                       .alias("qty")))
        p = plan_str(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p[:2000]
        # correctness unchanged vs the unbucketed plan
        plain = (li.join(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"),
            "l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .alias("qty")))
        assert joined.exceptAll(plain).count() == 0
        assert plain.exceptAll(joined).count() == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE layout_t CASCADE")


def test_partitioned_write_prunes_at_scan(spark, tmp_path):
    """A filter on the partition column must become PartitionFilters
    (directory pruning — the scan never opens non-matching files)."""
    tgt = str(tmp_path / "by_type")
    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev.write.partitionBy("event_type").mode("overwrite").parquet(tgt)

    q = spark.read.parquet(tgt).where(F.col("event_type") == "click")
    p = plan_str(q)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)", p)
    assert m and "event_type" in m.group(1), p[-1500:]
    assert q.count() == ev.where(F.col("event_type") == "click").count()
