"""Replicates the driver's correctness gate: every queries() entry runs on
Spark AND its oracle_sql() runs on DuckDB over the same parquet tables;
row counts, sorted schemas, and order-insensitive values must match."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon(v):
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def _rows_set(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_canon(r[c]) for c in cols) for _, r in pdf.iterrows()
    )


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_an_oracle():
    missing = set(QUERIES) - set(ORACLES)
    assert not missing, f"rows-only-checked queries (document why): {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    con = _duck()
    odf = con.execute(ORACLES[name]).df()
    assert len(sdf) == len(odf), (
        f"{name}: row count {len(sdf)} vs oracle {len(odf)}")
    assert sorted(map(str.lower, sdf.columns)) == \
        sorted(map(str.lower, odf.columns)), (
        f"{name}: schema {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    odf.columns = [c for c in odf.columns]
    a, b = _rows_set(sdf), _rows_set(odf)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "extracted_text" in df.columns
    assert all(r["extracted_text"] for r in rows)


# the round-3 relational/clustering additions also matched at sf0.001
# during development; back that claim with an automated gate (the main
# parametrized gate above runs everything at sf0.01 — running ALL 50
# twice would double the suite's longest test for little marginal
# signal, but the new multi-join/recursive queries have sf-dependent
# predicates worth pinning at the second scale)
SF_SMALL = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", ["q3_shipping_priority",
                                  "q5_local_supplier_volume",
                                  "q18_large_volume_customer",
                                  "q_dup_clusters"])
def test_new_queries_match_oracle_at_second_sf(spark, name):
    sdf = QUERIES[name](spark, SF_SMALL).toPandas()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_SMALL, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    odf = con.execute(ORACLES[name]).df()
    assert len(sdf) == len(odf) > 0
    assert _rows_set(sdf) == _rows_set(odf)


def test_q3_plan_pushes_filters_and_takes_ordered(spark):
    df = QUERIES["q3_shipping_priority"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" \
        in plan, plan


def test_q5_plan_broadcasts_the_dims(spark):
    df = QUERIES["q5_local_supplier_volume"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q4_plan_is_a_left_semi_join(spark):
    """Q4's EXISTS must stay a semi-join (first-match probe, keys-only
    shuffle), never a join+distinct rewrite."""
    df = QUERIES["q4_order_priority"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan


def test_q7_plan_broadcasts_both_nation_sides(spark):
    df = QUERIES["q7_volume_shipping"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan
