"""The band-bucket ANN queries (LSH and multi-index Hamming) exist
because their candidate generation is a (band, key) equi-join: no
query may plan a nested-loop join or a cartesian product."""

from __future__ import annotations

import pytest

from bigdata_pipelines_aws_glue_spark.operators.similarity import (
    ann_lsh_multiprobe_topk,
    ann_lsh_topk,
    binary_mih_multiprobe_topk,
    binary_mih_topk,
    binary_multiword_mih_multiprobe_topk,
    binary_multiword_mih_topk,
)


@pytest.mark.parametrize(
    "query",
    [
        ann_lsh_topk,
        ann_lsh_multiprobe_topk,
        binary_mih_topk,
        binary_mih_multiprobe_topk,
        binary_multiword_mih_topk,
        binary_multiword_mih_multiprobe_topk,
    ],
    ids=lambda q: q.__name__,
)
def test_band_bucket_query_is_equi_join(spark, sf_dir, query):
    plan = query(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
