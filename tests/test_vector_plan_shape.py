"""Plan shape of the registered vector-search queries.

Every per-row O(K x D) kernel of the vector family (IVF assignment, PQ
coding, LSH codes, near-dup cosine) runs as an Arrow-batched pandas_udf.
The pins below are each query's ArrowEvalPython count: one more means a
kernel is evaluated twice (a Filter on a UDF column does that), and a
BatchEvalPython means a kernel fell back to row-at-a-time Python.
"""

from __future__ import annotations

import os
import sys

import pytest

from tests.conftest import SF_DIR

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry  # noqa: E402

ARROW_EVALS = {
    "q_ann_recall_census_trained": 4,
    "q_semdedup": 1,
    "q_ann_cosine_topk": 0,
    "q_ann_lsh_bucketed": 1,
    "q_ann_bucketed_topk": 2,
    "q_ann_ivf_census": 1,
    "q_ann_ivf_topk": 1,
    "q_ann_ivf_pruned_topk": 0,
    "q_ivf_train_step": 1,
    "q_embed_neardup": 5,
    "q_embed_neardup_census": 1,
    "q_ann_recall_census": 5,
    "q_pq_codes": 1,
    "q_pq_adc_topk": 1,
    "q_ivfpq_topk": 1,
    "q_pq_train_step": 1,
}


@pytest.mark.parametrize("name", sorted(ARROW_EVALS))
def test_vector_query_plan_shape(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the final adaptive plan only (toString repeats the whole tree
    # under "== Initial Plan ==")
    plan = plan.split("Initial Plan")[0]
    assert plan.count("ArrowEvalPython") == ARROW_EVALS[name], plan
    assert "BatchEvalPython" not in plan, plan
