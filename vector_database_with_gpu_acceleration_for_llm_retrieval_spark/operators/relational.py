"""Relational operators (SURVEY.md X6): the eight TPC-H-style
join/aggregate/window/set-operation queries the driver contract
declares over the star schema (Q1, Q5, Q13 and Q22 shapes, a per-group
top-k, a rollup, a cube and an INTERSECT), plus three general
DataFrame operators: a salted skew join, a skyline (Pareto front) and
an unpivot.

Each query function takes a table dict (from
``sources.catalog.load_tables``) and returns a DataFrame; every computed
column is aliased so the DuckDB oracle hash-matches. Scale notes are on
each operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_segment",
    "customer_order_stats",
    "parts_rollup",
    "customers_without_orders",
    "order_priority_cube",
    "segment_retention",
    "salted_join",
    "pareto_front",
    "unpivot",
]


def pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy on lineitem with derived
    measures. One wide scan, map-side partial agg, 6-row result — the
    shuffle carries only (flag, status) partials. Filter on shipdate is
    pushed to parquet."""
    li = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join → revenue per nation.

    Join order: fact table last-joined against broadcast dims.
    region/nation/supplier/customer are tiny → explicit
    ``broadcast()`` so the only shuffle is lineitem⋈orders (both big at
    scale; co-partition/bucket by orderkey in a real warehouse to make
    it shuffle-free)."""
    li, o, c, s, n, r = (
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"],
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), (c["c_nationkey"] == n["n_nationkey"]) & (s["s_nationkey"] == n["n_nationkey"]))
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.round(F.sum(revenue), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def top_orders_per_segment(t: dict[str, DataFrame], k: int = 3) -> DataFrame:
    """Per-group top-k via window: k highest-value orders per market
    segment. Same bounded-top-k idea as vector search, on relational
    keys; the window shuffles by segment only after the projection is
    pruned to 4 columns."""
    o, c = t["orders"], t["customer"]
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("c_mktsegment", "rank", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rank")
    )


def customer_order_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Group-by-then-join shape (TPC-H Q13-lite): orders per customer →
    distribution of customers by order count, including zero-order
    customers via left join."""
    o, c = t["orders"], t["customer"]
    per_cust = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    dist = (
        c.join(per_cust, c["c_custkey"] == per_cust["o_custkey"], "left")
        .select(F.coalesce("n_orders", F.lit(0)).alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )
    return dist


def parts_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP aggregate over part brand/type: grouping-set totals in one
    pass (Catalyst expands to a single Expand+Aggregate — no
    re-scan per level)."""
    p = t["part"]
    return (
        p.rollup("p_brand", "p_type")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_price"),
        )
        .orderBy(F.asc_nulls_first("p_brand"), F.asc_nulls_first("p_type"))
    )


def customers_without_orders(t: dict[str, DataFrame], since: str = "2001-01-01") -> DataFrame:
    """Anti-join shape (TPC-H Q22 flavor): customers with no order on
    or after ``since`` (the testdata spans 1995–2001, so the tail year
    leaves a real dormant set). ``left_anti`` shuffles only the
    filtered order keys — the date filter is pushed to the parquet
    scan before the join."""
    o, c = t["orders"], t["customer"]
    recent = o.filter(F.col("o_orderdate") >= since)
    return (
        c.join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def order_priority_cube(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE over (priority, status): all 2^2 grouping sets in one
    Expand+Aggregate pass — no per-level re-scan."""
    o = t["orders"]
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(
            F.asc_nulls_first("o_orderpriority"), F.asc_nulls_first("o_orderstatus")
        )
    )


def segment_retention(t: dict[str, DataFrame]) -> DataFrame:
    """INTERSECT shape: customers active in BOTH 1995 and 1996. Set
    ops are distinct-based — each side shuffles only the projected key
    column, and the filters sit on the orderdate scan (pushed to
    parquet)."""
    o = t["orders"]
    y95 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_custkey")
    y96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    return y95.intersect(y96).orderBy("o_custkey")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe shuffle join: the classic salting rewrite for a hot
    join key, producing a result IDENTICAL to the plain join.

    A shuffle join hash-partitions both sides on the key, so a key
    owning 10% of a 100 TB fact lands 10 TB in one task — the straggler
    that kills the stage. Salting splits every fact key across
    ``salts`` sub-buckets (a deterministic ``xxhash64`` of the whole
    row, so re-runs and retries route identically) and replicates each
    dim row once per salt; joining on ``(key, salt)`` then spreads the
    hot key over ``salts`` tasks while matching exactly the same pairs:
    the dim replicas are disjoint by salt, so each fact row still meets
    each matching dim row exactly once. Cost: dim grows ×salts (dims
    are the small side by definition — this is the regime where the dim
    is too big to broadcast but ×salts still fits a shuffle), the fact
    is untouched.

    ``how`` ∈ {inner, left} (fact-preserving; salt replication would
    multiply unmatched DIM rows under right/outer, so those are
    refused). NULL fact keys spread like any other row (the salt hashes
    the whole row) and stay harmless: they match nothing (inner) or
    pass through once (left). Rows that are
    complete duplicates share a salt and stay in one bucket; salt on an
    explicit high-cardinality column upstream if that matters. This is
    the manual form of what AQE skew-join does adaptively; keep it for
    deterministic plans, pre-AQE engines, and skew the runtime can't
    see (post-filter explosion).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if salts < 1:
        raise ValueError(f"salts must be >= 1, got {salts}")
    f = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salts))
    )
    d = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    cond = (f[fact_key] == d[dim_key]) & (f["__salt"] == d["__salt"])
    joined = f.join(d, cond, how)
    # drop both salts and the dim-side key copy (redundant with the
    # fact key on inner; null-padded on left — the fact key is the one
    # a caller means either way)
    return joined.drop(f["__salt"]).drop(d["__salt"]).drop(d[dim_key])



def pareto_front(
    df: DataFrame,
    min_col: str,
    max_col: str,
    prune_partitions: int = 64,
) -> DataFrame:
    """Skyline query (Börzsönyi et al. 2001): the Pareto-optimal set of
    ``(minimize min_col, maximize max_col)`` — every row not strictly
    dominated by another (lower-or-equal price AND higher-or-equal
    size, strict in at least one).

    Shape for scale — prune locally, sweep the survivors: dominance is
    closed under subsets, so a global skyline point is necessarily in
    the skyline of ANY subset containing it; we therefore run the
    one-pass sort sweep (order by price asc, size desc over DISTINCT
    value pairs; a row survives iff the running max of size over
    preceding rows is below its own) inside each of
    ``prune_partitions`` hash partitions first, and only the local
    survivors — typically O(log n) per partition on non-adversarial
    data, worst-case the partition itself — enter the single global
    sweep. The global window therefore sorts survivor-counts, not the
    table. Distinct-pair reduction makes the sweep's tie logic exact:
    among distinct pairs, running-max ≥ own-size ⟺ strictly dominated
    (equal pairs collapse, so an equal running max always comes from a
    strictly better row). Returns the distinct ``(min_col, max_col)``
    skyline pairs.
    """
    # dominance over NULL is undefined — a null coordinate can neither
    # dominate nor be dominated coherently, so such rows are excluded
    # (the same convention as SQL comparison predicates)
    pairs = (
        df.select(F.col(min_col).alias("__lo"), F.col(max_col).alias("__hi"))
        .filter(F.col("__lo").isNotNull() & F.col("__hi").isNotNull())
        .distinct()
    )
    part = F.pmod(F.xxhash64("__lo", "__hi"), F.lit(prune_partitions))

    def sweep(frame: DataFrame, keys: list) -> DataFrame:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.asc("__lo"), F.desc("__hi"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prev = F.max("__hi").over(w)
        return frame.withColumn("__pm", prev).filter(
            F.col("__pm").isNull() | (F.col("__pm") < F.col("__hi"))
        ).drop("__pm")

    local = sweep(pairs.withColumn("__p", part), ["__p"]).drop("__p")
    return sweep(local, []).select(
        F.col("__lo").alias(min_col), F.col("__hi").alias(max_col)
    )



def unpivot(
    df: DataFrame, id_cols: list[str], value_cols: list[str],
    var_name: str = "metric", value_name: str = "value",
) -> DataFrame:
    """Wide→long melt via ``stack`` (one Generate projection — no
    shuffle, no UDF): each of ``value_cols`` becomes a
    ``(metric, value)`` row per input row. Values are cast to double
    (stack requires a common type). The inverse of ``pivot``."""
    n = len(value_cols)
    args = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in value_cols)
    return df.select(
        *id_cols,
        F.expr(f"stack({n}, {args}) AS ({var_name}, {value_name})"),
    )
