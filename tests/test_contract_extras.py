"""Value-level oracle checks for the contract entries that live outside
the driver's 50-slot window (``contract.extra_queries``).

Same compare as the driver gate / tools/compare_oracle.py: row count,
column names, and order-insensitive values vs the DuckDB oracle on the
same parquet tables.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.catalog import TABLES

from conftest import SF_DIR

EXTRAS = sorted(contract.extra_queries())


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple))).any():
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        if df[c].dtype == object:
            df[c] = df[c].map(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.driver_gate
def test_every_extra_has_an_oracle():
    # equality, not subset: a mirror whose query is gone is an orphan
    assert set(contract.oracle_sql()) == set(contract.queries()) | set(EXTRAS)


@pytest.mark.driver_gate
def test_no_overlap_and_window_size():
    qs = contract.queries()
    assert len(qs) == 50  # the driver's check window, exactly filled
    assert not set(qs) & set(contract.extra_queries())


@pytest.mark.parametrize("name", EXTRAS)
def test_extra_matches_oracle(name, spark, duck):
    sdf = contract.extra_queries()[name](spark, SF_DIR).toPandas()
    ddf = duck.execute(contract.oracle_sql()[name]).fetchdf()
    assert len(sdf) == len(ddf)
    assert sorted(sdf.columns) == sorted(ddf.columns)
    pd.testing.assert_frame_equal(
        _canon(sdf), _canon(ddf), check_dtype=False, check_exact=True
    )
