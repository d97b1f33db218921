"""Binned range join correctness vs naive BETWEEN join; LSH-blocked
embedding near-dup recall on injected duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_pipelines_aws_glue_spark.operators.joins import (
    binned_range_join,
    synth_periods,
)
from bigdata_pipelines_aws_glue_spark.operators.similarity import (
    DUP_OFFSET,
    embedding_near_dup_pairs,
)
from bigdata_pipelines_aws_glue_spark.sources.readers import load_table


def test_binned_range_join_equals_naive(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    periods = synth_periods(spark)
    binned = (
        binned_range_join(li, periods, "l_shipdate")
        .groupBy("period_id")
        .count()
    )
    naive = (
        li.join(
            periods,
            (F.col("l_shipdate") >= F.col("p_start"))
            & (F.col("l_shipdate") < F.col("p_end")),
        )
        .groupBy("period_id")
        .count()
    )
    b = {r["period_id"]: r["count"] for r in binned.collect()}
    n = {r["period_id"]: r["count"] for r in naive.collect()}
    assert b == n


def test_binned_join_is_equi_join_on_bin(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    plan = (
        binned_range_join(li, synth_periods(spark), "l_shipdate")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the scale property: a hash-partitionable equi-join exists; the
    # range condition is residual, not a nested-loop join condition
    assert "BroadcastNestedLoopJoin" not in plan


def test_blocked_near_dup_full_recall_on_duplicates(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    doubled = emb.select("vec_id", "embedding").unionByName(
        emb.select(
            (F.col("vec_id") + DUP_OFFSET).alias("vec_id"), F.col("embedding")
        )
    )
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(doubled).collect()
    }
    expected = {
        (r["vec_id"], r["vec_id"] + DUP_OFFSET) for r in emb.collect()
    }
    # identical vectors share every LSH band -> blocking loses nothing
    assert expected <= got
