"""Bucketing: pre-shuffled storage so repeated joins/aggs on the bucket key
run WITHOUT an exchange — the SURVEY §7 scale lever for co-located joins
(two 50 TB fact tables bucketed on the same key join shuffle-free)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    (
        li.write.bucketBy(8, "l_partkey").sortBy("l_partkey")
        .option("path", str(wh / "li"))  # external table: no warehouse conf needed
        .mode("overwrite").format("parquet").saveAsTable("li_bucketed")
    )
    (
        part.withColumnRenamed("p_partkey", "l_partkey")
        .write.bucketBy(8, "l_partkey").sortBy("l_partkey")
        .option("path", str(wh / "part"))
        .mode("overwrite").format("parquet").saveAsTable("part_bucketed")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS part_bucketed")


def _physical(df, spark):
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_bucketed_join_has_no_shuffle(spark, warehouse):
    li = spark.table("li_bucketed")
    part = spark.table("part_bucketed")
    joined = li.join(part.hint("merge"), "l_partkey").select("l_partkey", "p_name")
    plan = _physical(joined, spark)
    # both sides read pre-bucketed — a sort-merge join with ZERO exchanges
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == spark.table("li_bucketed").count()


def test_bucketed_agg_has_no_shuffle(spark, warehouse):
    agg = spark.table("li_bucketed").groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("q")
    )
    plan = _physical(agg, spark)
    assert "Exchange hashpartitioning" not in plan
