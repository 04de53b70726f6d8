"""Plan-shape pins for the round-6 crawl/input layer: the scale
contracts (zero-shuffle map stages, broadcast host-level sides,
partial aggregation, no per-row Python) asserted on EXECUTED plans."""

import pytest

SF = "/root/testdata/sf0.001"


def _executed(df):
    df._jdf.queryExecution().executedPlan()   # force planning
    # run it so AQE finalizes, then read the adaptive plan
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_only_fanout_exchange(plan: str) -> None:
    """The operator itself must stay shuffle-free; since round 7 the
    shared reader may insert ONE round-robin repartition to repair
    under-split single-row-group scans (dataset_queries._fanout_parts —
    optimization guide §2.5).  Any keyed exchange, or more than one,
    would mean the operator grew a shuffle of its own."""
    n = plan.count("Exchange")
    assert n <= 1, plan
    if n == 1:
        assert "RoundRobinPartitioning" in plan, plan


def test_charset_decode_zero_shuffle(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_charset_decode

    plan = _executed(q_charset_decode(spark, SF))
    _assert_only_fanout_exchange(plan)
    assert "BatchEvalPython" not in plan


def test_http_gate_zero_shuffle(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_http_gate

    plan = _executed(q_http_gate(spark, SF))
    _assert_only_fanout_exchange(plan)
    assert "BatchEvalPython" not in plan


def test_mojibake_zero_shuffle(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_mojibake_fix

    plan = _executed(q_mojibake_fix(spark, SF))
    _assert_only_fanout_exchange(plan)
    assert "BatchEvalPython" not in plan


def test_robots_rules_zero_shuffle(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_robots_rules

    plan = _executed(q_robots_rules(spark, SF))
    # one exchange is allowed for the DISTINCT host derivation of the
    # fixture corpus; the parse stage itself adds none on top
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan


def test_frontier_policed_broadcast_no_window(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_frontier_policed

    plan = _executed(q_frontier_policed(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_domain_rollup_partial_aggregation(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_domain_rollup

    plan = _executed(q_domain_rollup(spark, SF))
    # map-side combine: a partial_ aggregate must appear below the
    # exchange (HashAggregate with partial mode)
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan
    # the host fixture carries n_chars itself (no self-join on doc_id)
    # and the aggregate's own keyed shuffle needs no round-robin fan-out
    assert "Join" not in plan
    assert "RoundRobinPartitioning" not in plan


def test_crawl_scheduler_shape(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_crawl_scheduler

    plan = _executed(q_crawl_scheduler(spark, SF))
    # host-level sides broadcast; the decision is join+agg, no window;
    # no cartesian anywhere
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_fetch_slots_single_host_window(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_fetch_slots

    plan = _executed(q_fetch_slots(spark, SF))
    # politeness is per-host serialization: exactly the one Window
    # node, partitioned by host
    assert plan.count("Window") >= 1
    assert "host" in plan[plan.find("Window"):plan.find("Window") + 400]


def test_decon_fuzzy_broadcast_only_cross(spark):
    from ocr_hardsubx_spark.plans.dataset_queries import q_decon_fuzzy

    plan = _executed(q_decon_fuzzy(spark, SF))
    # the eval side must ride broadcast — a plain CartesianProduct
    # would be the corpus x corpus mistake
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_crawl_oracles_follow_link_hosts(monkeypatch):
    """Every crawl fixture reads linkgraph.LINK_HOSTS when its query is
    built: with 7 hosts no registered oracle keeps the old literal 50."""
    import os
    import sys

    from ocr_hardsubx_spark.operators import linkgraph

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as entry

    monkeypatch.setattr(linkgraph, "LINK_HOSTS", 7)
    sqls = entry.oracle_sql()
    assert not [name for name, sql in sqls.items() if "% 50" in sql]
    for name in ("q_meta_robots", "q_crawl_scheduler", "q_frontier_bloom",
                 "q_robots_rules", "q_sitemap_urls", "q_http_gate"):
        assert "doc_id % 7 " in sqls[name], name
