"""The SQL front door: portable ANSI text shared verbatim between
spark.sql and the DuckDB oracle, plus the deterministic k-fold split."""
from __future__ import annotations


from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import (
    contract,
    contract_oracle,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sampling import (
    kfold_assign,
)


def test_portable_sql_shared_verbatim():
    """The oracle entry IS the Spark SQL text — no translation layer to
    drift."""
    o = contract_oracle.oracle_sql()
    assert o["sql_forecast_revenue"] is contract.PORTABLE_SQL_FORECAST_REVENUE
    assert o["sql_priority_orders"] is contract.PORTABLE_SQL_PRIORITY_ORDERS


def test_sql_q6_filters_pushed_and_q4_semi_join(spark):
    sf_dir = "/root/testdata/sf0.001"
    df6 = contract.q_sql_forecast_revenue(spark, sf_dir)
    plan6 = df6._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan6 and "l_quantity" in plan6.split("PushedFilters:")[1].splitlines()[0]
    df4 = contract.q_sql_priority_orders(spark, sf_dir)
    plan4 = df4._jdf.queryExecution().executedPlan().toString().split("\n\n")[0]
    assert "LeftSemi" in plan4          # EXISTS decorrelated, not re-executed per row
    assert "CartesianProduct" not in plan4


def test_kfold_assign_properties(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r.doc_id: r.fold for r in kfold_assign(df, k=5).collect()}
    assert set(a.values()) <= set(range(5))
    # every fold populated and roughly balanced on 500 uniform ids
    from collections import Counter

    sizes = Counter(a.values())
    assert len(sizes) == 5 and min(sizes.values()) > 50
    # partitioning-invariant and stable under corpus growth
    b = {r.doc_id: r.fold for r in kfold_assign(df.repartition(13), k=5).collect()}
    assert a == b
    grown = df.unionAll(spark.createDataFrame([(i,) for i in range(500, 600)], "doc_id long"))
    c = {r.doc_id: r.fold for r in kfold_assign(grown, k=5).collect()}
    assert all(c[i] == a[i] for i in a)     # old rows never move folds


def test_kfold_assign_is_pure_projection(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    head = kfold_assign(df)._jdf.queryExecution().executedPlan().toString().split("\n\n")[0]
    assert "Exchange" not in head


def test_portable_hot_keys_shared_verbatim():
    o = contract_oracle.oracle_sql()
    assert o["sql_hot_keys"] is contract.PORTABLE_SQL_HOT_KEYS


# r14: part of the fast driver-gate subset (default `pytest` selection
# per pytest.ini; `-m ''` runs the full suite)
import pytest as _pytest

pytestmark = _pytest.mark.driver_gate
