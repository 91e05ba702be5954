"""Local mirror of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over
the same sf dir, compare row count, column names, and order-insensitive
values. Usage::

    python tools/compare_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark import contract  # noqa: E402
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark  # noqa: E402
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.catalog import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form for order-insensitive compare: columns sorted by
    name, list cells tupled, rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple))).any():
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    # unpartitioned windows over small frames log-spam "No Partition
    # Defined" WindowExec WARNs — expected at spot-check scale; keep the
    # output to PASS/FAIL lines
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = {**contract.queries(), **contract.extra_queries()}
    oracles = contract.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL {name}: oracle SQL raised: {exc}")
            n_fail += 1
            continue
        problems = []
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} vs {len(ddf)}")
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        if not problems:
            a, b = canon(sdf), canon(ddf)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            except AssertionError as exc:
                neq = (a != b)
                bad_cols = [c for c in a.columns if neq[c].any()]
                problems.append(f"values differ in {bad_cols}: {str(exc).splitlines()[-1]}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
