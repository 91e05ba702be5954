"""Relational analytics operators (SURVEY.md X6): TPC-H-style
join/aggregate/window queries over the star schema, proving the engine
is a general analytics engine and exercising Catalyst's join planning.

Each function takes a table dict (from ``sources.catalog.load_tables``)
and returns a DataFrame; every computed column is aliased so the DuckDB
oracle hash-matches. Scale notes are on each operator.
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
    "supplier_share",
    "customers_without_orders",
    "segment_churn",
    "order_priority_cube",
    "price_percentiles",
    "status_priority_pivot",
    "distinct_user_counts",
    "segment_retention",
    "monthly_revenue",
    "shipping_volume",
    "promo_share",
    "item_cooccurrence",
    "large_orders",
    "idle_rich_customers",
    "monthly_growth",
    "cohort_matrix",
    "event_transitions",
    "session_paths",
    "dau_wau",
    "cumulative_unique_users",
    "rfm_scores",
    "min_cost_supplier",
    "unshipped_orders",
    "returned_revenue",
    "top_supplier",
    "part_supplier_counts",
    "small_qty_revenue",
    "disjunctive_revenue",
    "order_laggards",
    "market_share",
    "product_profit",
    "important_parts",
    "late_ship_priority",
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


def segment_churn(t: dict[str, DataFrame]) -> DataFrame:
    """Set-operation shape (EXCEPT DISTINCT): customers who ordered in
    1995 but not in 1996. Set ops are distinct-based — each side
    shuffles only the projected key column, and the filters sit on the
    orderdate scan (pushed to parquet)."""
    o = t["orders"]
    y95 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_custkey")
    y96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    return y95.subtract(y96).orderBy("o_custkey")


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


def price_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Exact interpolated percentiles of extended price per return
    flag. ``percentile`` (exact) keeps cross-engine parity with
    DuckDB's ``quantile_cont``; at 100 TB swap for
    ``percentile_approx`` (t-digest, bounded memory) and drop the
    oracle to rows-only — exact percentiles need a per-group sort."""
    li = t["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


def segment_retention(t: dict[str, DataFrame]) -> DataFrame:
    """INTERSECT shape: customers active in BOTH 1995 and 1996 —
    the retained complement of segment_churn's EXCEPT."""
    o = t["orders"]
    y95 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    ).select("o_custkey")
    y96 = o.filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_custkey")
    return y95.intersect(y96).orderBy("o_custkey")


def monthly_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Calendar bucketing: revenue per (year, month) as integers —
    date parts cross engines exactly where raw timestamps wouldn't."""
    o = t["orders"]
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("yr", "mon")
    )


def status_priority_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """PIVOT shape: order counts with one column per order status.
    Spark's pivot enumerates the distinct values (given explicitly here
    so the plan needs no extra discovery pass — always pass the value
    list at scale)."""
    o = t["orders"]
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .orderBy("o_orderpriority")
    )


def distinct_user_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Exact distinct aggregation: users per event type. COUNT(DISTINCT)
    expands to a two-phase aggregate (distinct shuffle then count) —
    at 100 TB swap for approx_count_distinct (HLL, one pass) when ±2%
    is acceptable."""
    e = t["events"]
    return (
        e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


def supplier_share(t: dict[str, DataFrame]) -> DataFrame:
    """Window-over-aggregate: each supplier's revenue and its share of
    nation revenue (sum over a nation window) — classic ratio-to-report."""
    li, s, n = t["lineitem"], t["supplier"], t["nation"]
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    joined = (
        rev.join(F.broadcast(s), rev["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "n_name", "rev")
    )
    w = Window.partitionBy("n_name")
    return joined.select(
        "s_suppkey",
        "n_name",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w), 6).alias("nation_share"),
    ).orderBy("n_name", F.desc("revenue"), F.asc("s_suppkey"))


def shipping_volume(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — revenue shipped between
    each (supplier nation, customer nation) pair per ship-year.

    Two independent nation-dimension joins (supplier side and customer
    side) against ONE fact join — both nation lookups broadcast, so the
    only shuffle is lineitem⋈orders plus the final small group-by on
    (nation, nation, year).  The classic plan trap here is joining
    nation twice without aliasing; self-aliased broadcast copies keep
    Catalyst's attribute resolution unambiguous."""
    li, o, c, s, n = (
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"],
    )
    n_supp = F.broadcast(
        n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    )
    n_cust = F.broadcast(
        n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        # round 6, not the display-money 2: inputs have 4 decimals, so
        # true sums sit ON .xx5 cent boundaries where engines' FP noise
        # rounds opposite ways (14/4188 groups flipped at round-2); no
        # 4-decimal sum can sit on a 1e-6 half-boundary
        .agg((F.round(F.sum(revenue), 6) + F.lit(0.0)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def promo_share(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share per month —
    conditional aggregation (``sum(CASE WHEN …)``) over one fact⋈dim
    join; the part dimension broadcasts, the month grouping is tiny.
    The ratio divides two sums from the SAME aggregation, so the plan
    is one join + one group-by, never two passes."""
    li, p = t["lineitem"], t["part"]
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(F.lit(0.0))
    month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    agg = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(month)
        .agg(
            F.sum(promo).alias("__promo"),
            F.sum(revenue).alias("__total"),
        )
    )
    return agg.select(
        "ship_month",
        # round-6 parity discipline (see shipping_volume): 4-decimal
        # inputs make cent-level round-half boundaries engine-unstable
        (F.round(F.col("__promo"), 6) + F.lit(0.0)).alias("promo_revenue"),
        (F.round(F.col("__total"), 6) + F.lit(0.0)).alias("total_revenue"),
        (F.round(F.lit(100.0) * F.col("__promo") / F.col("__total"), 6) + F.lit(0.0)).alias("promo_share_pct"),
    ).orderBy("ship_month")


def item_cooccurrence(
    events: DataFrame,
    item_expr=None,
    min_support: int = 2,
    max_items_per_user: int = 50,
    user_col: str = "user_id",
) -> DataFrame:
    """Item co-occurrence counts from an interaction log — "users who
    touched A also touched B", the classic co-visitation signal behind
    item-to-item recommendation and related-content linking.

    ``item_expr`` is any Column producing the item id per event row
    (default: the ``k`` property of the JSON ``props`` payload).

    Shape for scale — the danger is quadratic blowup on power users,
    so the pipeline caps BEFORE pairing:

    1. distinct (user, item) — one shuffle, kills per-user repeats;
    2. per-user cap to ``max_items_per_user`` items (window over the
       user's items, deterministic item-asc order) — bounds the
       self-join at cap² pairs per user no matter how hot the user;
    3. self-equi-join on user (item_a < item_b) → pair partial-agg.

    Returns ``(item_a, item_b, n_users)`` with ``n_users ≥
    min_support``. The cap is a documented approximation (standard in
    production co-vis pipelines); set it above the true per-user max
    for exact counts — the cap-2 pytest covers both regimes.
    """
    item = (
        item_expr
        if item_expr is not None
        else F.get_json_object(F.col("props"), "$.k").cast("long")
    )
    ui = (
        events.select(F.col(user_col).alias("u"), item.alias("item"))
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("u").orderBy(F.asc("item"))
    capped = (
        ui.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_items_per_user)
        .drop("__rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(b, "u").filter(F.col("a.item") < F.col("b.item"))
    return (
        pairs.groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .filter(F.col("n_users") >= min_support)
    )


def large_orders(t: dict[str, DataFrame], min_qty: float = 150.0) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold, with customer context — aggregate-then-semi-join-back.

    The quantity rollup keys on l_orderkey (one fact shuffle); the
    survivor key set is tiny after the HAVING, so the join back to
    orders is effectively a broadcast under AQE, and customer broadcasts
    outright. The fact table is scanned once for the rollup and never
    re-scanned for detail rows — detail comes from the rollup itself.
    """
    li, o, c = t["lineitem"], t["orders"], t["customer"]
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)
    )
    return (
        o.join(qty, o["o_orderkey"] == qty["l_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def idle_rich_customers(t: dict[str, DataFrame], since: str = "2000-01-01") -> DataFrame:
    """TPC-H Q22 shape: customers with above-average account balance
    and no orders since ``since`` — a scalar-subquery gate plus an
    anti join.

    The average is one scalar aggregate broadcast into the filter (no
    per-row subquery); the anti join on custkey is the only shuffle,
    its right side pre-filtered by the pushed-down date predicate, and
    it ships only gated customers. Grouped by market segment for a
    small deterministic result.
    """
    c, o = t["customer"], t["orders"]
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    gated = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("__avg")
    )
    recent = o.filter(F.col("o_orderdate") >= F.lit(since))
    idle = gated.join(recent, gated["c_custkey"] == recent["o_custkey"], "left_anti")
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            (F.round(F.sum("c_acctbal"), 6) + F.lit(0.0)).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def monthly_growth(t: dict[str, DataFrame]) -> DataFrame:
    """Month-over-month revenue growth: the period-over-period ``lag``
    shape. The corpus-sized work is one groupBy(month) — the window
    then runs on the TINY aggregated frame (one row per month), so the
    unpartitioned ordered window is harmless (frame size = number of
    months, not the fact table)."""
    li = t["lineitem"]
    month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
    rev = (
        li.groupBy(month)
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"))
    )
    w = Window.orderBy("ship_month")
    prev = F.lag("__rev").over(w)
    return rev.select(
        "ship_month",
        (F.round(F.col("__rev"), 6) + F.lit(0.0)).alias("revenue"),
        (F.round(
            F.when(prev.isNotNull(), (F.col("__rev") - prev) / prev * 100.0),
            6,
        ) + F.lit(0.0)).alias("mom_growth_pct"),
    ).orderBy("ship_month")


def cohort_matrix(events: DataFrame, granularity: str = "month") -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period (the cohort), counted in each later period they return —
    the standard product-analytics retention triangle.
    ``granularity`` ∈ {"month", "day"}.

    Two shuffles, both on the user key: (1) per-user min(ts) — a
    partial-aggregated groupBy, (2) distinct (user, period) activity.
    The join keys on user_id (the per-user frame is corpus-bounded by
    the user count, AQE broadcasts it for small user sets); cohorts
    then aggregate to a periods × periods frame (tiny).
    ``period_offset`` counts periods since the cohort period."""
    fmt = "yyyy-MM" if granularity == "month" else "yyyy-MM-dd"
    first = events.groupBy("user_id").agg(
        F.date_format(F.min("ts"), fmt).alias("cohort_period")
    )
    activity = events.select(
        "user_id", F.date_format("ts", fmt).alias("active_period")
    ).distinct()
    joined = activity.join(first, "user_id")
    if granularity == "month":
        offset = (
            (F.substring("active_period", 1, 4).cast("int") * 12
             + F.substring("active_period", 6, 2).cast("int"))
            - (F.substring("cohort_period", 1, 4).cast("int") * 12
               + F.substring("cohort_period", 6, 2).cast("int"))
        )
    else:
        offset = F.datediff(
            F.to_date("active_period"), F.to_date("cohort_period")
        )
    return (
        joined.groupBy("cohort_period", offset.alias("period_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_period", "period_offset")
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (from_type → to_type) pair of CONSECUTIVE events of the same
    user, the transition count and probability — "what do users do
    next", the path-analysis primitive.

    One per-user window (``lead`` in deterministic (ts, id) order —
    state bounded by a user's events), one pair aggregation; the
    probability normalizes within from_type via a window over the tiny
    types × types frame.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    nxt = F.lead("event_type").over(w)
    pairs = (
        events.select(F.col("event_type").alias("from_type"), nxt.alias("to_type"))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n") / F.sum("n").over(tot)).alias("prob"),
    )


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    max_steps: int = 5,
    top_n: int = 20,
) -> DataFrame:
    """Most common session journeys: the first ``max_steps`` event
    types of each inactivity-gap session, joined into a path string,
    counted corpus-wide — "how do sessions usually start", the path-
    mining staple.

    Reuses the sessionizer's lag → gap-flag → running-sum shape (one
    per-user window), then per-session paths via sorted struct
    collect_list (array_sort on (ts, id) structs — collect order is
    partition-dependent, the SORT makes it deterministic), and a tiny
    path count. Bounded per-session state; top-N merge is
    TakeOrderedAndProject."""
    from pyspark.sql import Window as W

    by_user = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(by_user)
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    sess = events.withColumn(
        "session_id", F.sum(new_sess).over(by_user.rowsBetween(W.unboundedPreceding, 0))
    )
    per_sess = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("t"),
                        F.col("event_id").alias("i"),
                        F.col("event_type").alias("e"),
                    )
                )
            ).alias("__evs")
        )
        .select(
            F.array_join(
                F.slice(F.transform(F.col("__evs"), lambda s: s["e"]), 1, max_steps),
                ">",
            ).alias("path")
        )
    )
    return (
        per_sess.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(top_n)
    )


def cumulative_unique_users(
    events: DataFrame, key_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Cumulative distinct users by day — the all-time-uniques growth
    curve. A running COUNT DISTINCT is not frame-able, so the standard
    decomposition: each user collapses to their FIRST-seen day (one
    key-partial agg over the fact), first-seen days roll up to
    ``n_new`` per day, and the running total is a window over the
    tiny days frame only (days, not events — bounded regardless of
    corpus size). Returns ``(day, n_new, n_total)``."""
    first = events.groupBy(F.col(key_col).alias("k")).agg(
        F.min(F.to_date(ts_col)).alias("day")
    )
    per_day = first.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "n_new", F.sum("n_new").over(w).alias("n_total")
    )


def dau_wau(events: DataFrame, window_days: int = 7) -> DataFrame:
    """Daily active users, trailing-window actives, and stickiness
    (DAU/WAU) per day — the growth metric sheet.

    Distinct-over-a-sliding-window has no direct window-function form
    (count DISTINCT isn't frame-able), so the standard shape: collapse
    to distinct (user, day) first — bounded by users × days, the fact
    table never re-scans — then join the tiny day spine against the
    trailing interval and count distinct per day. The spine side is
    |days| rows; the join fans each (user, day) row into ≤``window_days``
    spine days, still users × days × W — far below the event count.
    """
    ud = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct()
    trailing = days.alias("d").join(
        ud.alias("u"),
        (F.col("u.day") <= F.col("d.day"))
        & (F.col("u.day") >= F.date_sub(F.col("d.day"), window_days - 1)),
    )
    wau = trailing.groupBy(F.col("d.day").alias("day")).agg(
        F.count_distinct("u.user_id").alias("wau")
    )
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return (
        dau.join(wau, "day")
        .select("day", "dau", "wau", (F.col("dau") / F.col("wau")).alias("stickiness"))
        .orderBy("day")
    )


def rfm_scores(orders: DataFrame, asof_date: str = "2001-09-01") -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    as of ``asof_date``), frequency (order count), monetary (total
    spend), each quintile-scored 1–5 (5 best) — the classic customer-
    value grid.

    The per-customer rollup is one partial-agg shuffle of orders; the
    three quintile scores come from the distributed prefix rank
    (:func:`~.sampling.global_rank`) over the CUSTOMER-sized frame —
    ties split deterministically by customer key, so the scoring is
    engine- and partitioning-stable (a plain ntile would also be a
    single-task window at customer scale; this isn't).
    """
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sampling import (
        global_rank,
    )

    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(asof_date).cast("date"), F.max(F.to_date("o_orderdate"))).alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("o_totalprice").alias("monetary"),
    )

    def quint(df, col, better_high: bool, out: str):
        ranked = global_rank(df, col, id_col="o_custkey")
        pct = F.col("pct")
        score = F.least(F.floor(pct * 5), F.lit(4)) + 1
        if not better_high:
            score = 6 - score
        return ranked.withColumn(out, score.cast("int")).drop("rank", "pct")

    out = quint(per_cust, "rec_days", better_high=False, out="r_score")
    out = quint(out, "freq", better_high=True, out="f_score")
    out = quint(out, "monetary", better_high=True, out="m_score")
    return out.select(
        "o_custkey", "rec_days", "freq", "monetary", "r_score", "f_score", "m_score"
    )


def min_cost_supplier(
    t: dict[str, DataFrame], region: str = "ASIA", max_size: int = 15, k: int = 100
) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part in a region),
    decorrelated: the classic correlated ``cost = (SELECT min …)``
    subquery becomes one window-min over the part partition — a single
    shuffle on partkey instead of a per-row re-scan.

    The schema has no partsupp table, so supply cost is derived from
    the fact: per (part, supplier), the minimum observed unit price
    ``min(l_extendedprice / l_quantity)``. That derivation is itself a
    partial-aggregated groupBy on the two keys (map-side combine — the
    shuffle carries one row per (part, supplier) pair, not lineitems).
    Supplier/nation/region are broadcast; ties on min cost keep ALL
    min-cost suppliers (set semantics, same as Q2), and the final
    ordering (acctbal desc, nation, supplier, part) bounds the result
    with TakeOrderedAndProject.
    """
    li, p, s, n, r = t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"]
    cost = F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6)
    ps = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy("l_partkey", "l_suppkey")
        .agg(cost.alias("supply_cost"))
    )
    dim = (
        F.broadcast(
            s.join(n, s["s_nationkey"] == n["n_nationkey"])
            .join(r.filter(F.col("r_name") == region), F.col("n_regionkey") == F.col("r_regionkey"))
            .select("s_suppkey", "s_name", "s_acctbal", "n_name")
        )
    )
    parts = F.broadcast(
        p.filter(F.col("p_size") <= max_size).select("p_partkey", "p_brand")
    )
    scoped = (
        ps.join(dim, ps["l_suppkey"] == dim["s_suppkey"])
        .join(parts, ps["l_partkey"] == parts["p_partkey"])
    )
    w = Window.partitionBy("p_partkey")
    return (
        scoped.withColumn("min_cost", F.min("supply_cost").over(w))
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "supply_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(k)
    )


def unshipped_orders(
    t: dict[str, DataFrame],
    segment: str = "BUILDING",
    cutoff: str = "1998-06-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): revenue still unshipped at a
    date for one market segment. Both date filters push to the parquet
    scans (orders BEFORE the cutoff, lineitems shipped AFTER it), the
    customer dim is broadcast, and the top-k lands in
    TakeOrderedAndProject — the shuffle carries only surviving
    (orderkey, date, priority) partials."""
    li, o, c = t["lineitem"], t["orders"], t["customer"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cust = F.broadcast(
        c.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    )
    return (
        li.filter(F.col("l_shipdate") > F.lit(cutoff))
        .join(
            o.filter(F.col("o_orderdate") < F.lit(cutoff)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


def returned_revenue(t: dict[str, DataFrame], since: str = "1999-01-01", k: int = 20) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by revenue lost to returns
    (returnflag = 'R') in a quarter. Fact-side filters (flag + date)
    prune the scan before the orders join; customer and nation are
    broadcast; top-k is bounded."""
    li, o, c, n = t["lineitem"], t["orders"], t["customer"], t["nation"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    until = F.date_add(F.lit(since).cast("date"), 90)
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit(since)) & (F.col("o_orderdate") < until)
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def top_supplier(t: dict[str, DataFrame], start: str = "1999-01-01") -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue in a
    quarter. The scalar ``max(total_revenue)`` subquery is a 1-row
    aggregate of the already-tiny per-supplier frame, broadcast back —
    no second scan of the fact. Returns every supplier achieving the
    max (set semantics, like Q15's HAVING = MAX)."""
    li, s = t["lineitem"], t["supplier"]
    until = F.date_add(F.lit(start).cast("date"), 90)
    rev = (
        li.filter((F.col("l_shipdate") >= F.lit(start)) & (F.col("l_shipdate") < until))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def part_supplier_counts(
    t: dict[str, DataFrame], exclude_brand: str = "Brand#45", k: int = 50
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size) bucket. The part-supplier relation is derived
    from the fact (distinct (partkey, suppkey) — partial-agged before
    the shuffle); part is broadcast; count-distinct runs on the already
    deduped pair frame so no second dedup pass is paid."""
    li, p = t["lineitem"], t["part"]
    links = li.select("l_partkey", "l_suppkey").distinct()
    parts = F.broadcast(
        p.filter(F.col("p_brand") != exclude_brand).select(
            "p_partkey", "p_brand", "p_type", "p_size"
        )
    )
    return (
        links.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(k)
    )


def small_qty_revenue(
    t: dict[str, DataFrame], brand: str = "Brand#23", frac: float = 0.5
) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): average yearly
    revenue from orders below half a part's average quantity. The
    correlated ``avg(l_quantity)`` per part is decorrelated into one
    groupBy over the brand-filtered fact slice, broadcast back onto the
    same slice — the brand filter (via the broadcast part dim) prunes
    BEFORE both the aggregate and the re-join, so the heavy fact is
    scanned for this brand's rows only."""
    li, p = t["lineitem"], t["part"]
    parts = F.broadcast(
        p.filter(F.col("p_brand") == brand).select("p_partkey")
    )
    scoped = li.join(parts, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = scoped.groupBy("l_partkey").agg(F.avg("l_quantity").alias("__avg_qty"))
    return (
        scoped.join(
            F.broadcast(avg_q.withColumnRenamed("l_partkey", "__pk")),
            F.col("l_partkey") == F.col("__pk"),
        )
        .filter(F.col("l_quantity") < F.lit(frac) * F.col("__avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def disjunctive_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three (brand, size,
    quantity) conjunctions — the predicate-pushdown stress test. The
    disjunction lives in ONE join condition over a single fact scan;
    Catalyst pushes the common bounds (quantity, size) into the scans
    and the broadcast part dim keeps the join shuffle-free."""
    li, p = t["lineitem"], t["part"]
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def order_laggards(t: dict[str, DataFrame], k: int = 20) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), reshaped to
    this schema's columns: in every multi-supplier order, the supplier
    whose latest line shipped STRICTLY last (unique max shipdate while
    the other suppliers finished earlier) held the order up. The
    classic double-EXISTS decorrelates into one (order, supplier)
    aggregate plus one window over the order — two shuffles total, both
    on keys the data is already grouped by."""
    li, s = t["lineitem"], t["supplier"]
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("__s_last")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_os.withColumn("__n_supp", F.count(F.lit(1)).over(w))
        .withColumn("__o_last", F.max("__s_last").over(w))
        .withColumn(
            "__n_last",
            F.sum(
                F.when(F.col("__s_last") == F.col("__o_last"), 1).otherwise(0)
            ).over(w),
        )
        .filter(
            (F.col("__n_supp") >= 2)
            & (F.col("__s_last") == F.col("__o_last"))
            & (F.col("__n_last") == 1)
        )
    )
    return (
        flagged.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(k)
    )


def market_share(
    t: dict[str, DataFrame],
    supp_nation: str = "NATION_3",
    mkt_region: str = "EUROPE",
    p_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 shape (national market share): the share of one
    nation's suppliers in a region's market for one part type, per
    order year. Share = conditional-sum / sum in ONE aggregate pass —
    no self-join of the revenue frame. Customer-side nation/region and
    supplier-side nation are separate broadcast dim chains; the only
    big shuffle is lineitem⋈orders."""
    li, o, c, s, n, r = (
        t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"], t["region"],
    )
    cust_dim = F.broadcast(
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(
            r.filter(F.col("r_name") == mkt_region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("c_custkey").alias("__ck"))
    )
    supp_dim = F.broadcast(
        s.join(
            n.select(F.col("n_nationkey").alias("__snk"), F.col("n_name").alias("__sn")),
            s["s_nationkey"] == F.col("__snk"),
        ).select("s_suppkey", "__sn")
    )
    parts = F.broadcast(
        t["part"].filter(F.col("p_type") == p_type).select("p_partkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_dim, F.col("o_custkey") == F.col("__ck"))
        .join(supp_dim, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("__sn") == supp_nation, rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def product_profit(t: dict[str, DataFrame], name_like: str = "widget") -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). The
    schema has no partsupp supply cost, so cost is proxied from the
    part dim (half retail price per unit) — the join/aggregate shape is
    the point: name-filtered part dim broadcast into the fact, supplier
    → nation broadcast chain, group by (nation, year). Profit stays a
    single projected expression; one shuffle for the final group."""
    li, p, s, n = t["lineitem"], t["part"], t["supplier"], t["nation"]
    parts = F.broadcast(
        p.filter(F.col("p_name").contains(name_like)).select("p_partkey", "p_retailprice")
    )
    supp = F.broadcast(
        s.join(n, s["s_nationkey"] == n["n_nationkey"]).select("s_suppkey", "n_name")
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", F.year("l_shipdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("n_name", F.desc("o_year"))
    )


def important_parts(
    t: dict[str, DataFrame], supp_nation: str = "NATION_1", fraction: float = 0.001
) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose traded value
    through one nation's suppliers exceeds a fraction of that nation's
    total. The HAVING-vs-scalar-subquery decorrelates into a 1-row
    aggregate of the per-part frame cross-joined back (broadcast) —
    the fact is scanned once; both the per-part and the total aggregate
    reuse the same filtered, partial-agged slice. The threshold
    comparison rounds BOTH sides to cents first — Spark-vs-oracle
    summation-order drift on the raw double sums could otherwise flip
    a part sitting exactly at the cut."""
    li, s, n = t["lineitem"], t["supplier"], t["nation"]
    supp = F.broadcast(
        s.join(
            n.filter(F.col("n_name") == supp_nation),
            s["s_nationkey"] == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("__v"))
    )
    tot = per_part.agg(F.sum("__v").alias("__t"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.round("__v", 2) > F.round(F.lit(fraction) * F.col("__t"), 2))
        .select("l_partkey", F.round("__v", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def late_ship_priority(t: dict[str, DataFrame], late_days: int = 60) -> DataFrame:
    """TPC-H Q12 shape (late shipments by priority — this schema has no
    shipmode/commitdate, so lateness is shipdate lagging orderdate by
    more than ``late_days``). Conditional counts split urgent
    (1-URGENT/2-HIGH) from low priorities in the SAME aggregate pass;
    the only shuffle carries (priority) partials after the li⋈orders
    join."""
    li, o = t["lineitem"], t["orders"]
    late = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > late_days
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            F.sum(F.when(late & urgent, 1).otherwise(0)).alias("n_late_urgent"),
            F.round(
                F.sum(F.when(late, 1.0).otherwise(0.0)) / F.count(F.lit(1)), 6
            ).alias("late_share"),
        )
        .orderBy("o_orderpriority")
    )


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
