"""Property-based tests for the round-5 dataflow operators: CDC apply,
rate limiting, and the distributed global rank each checked against a
pure-Python reference on ARBITRARY inputs (SURVEY.md §5.3 strategy)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators import ingest as I
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.sampling import (
    global_rank,
)
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.streaming import pipeline as P

PROP_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ids = st.integers(min_value=0, max_value=6)
ts_vals = st.integers(min_value=0, max_value=500)
ops = st.sampled_from(["I", "U", "D"])

changelog_strategy = st.lists(
    st.tuples(ids, ts_vals, st.integers(0, 100), ops), min_size=0, max_size=25
)
snapshot_strategy = st.lists(ids, min_size=0, max_size=7, unique=True)


@given(snap_ids=snapshot_strategy, changes=changelog_strategy)
@settings(**PROP_SETTINGS)
def test_apply_changelog_matches_python_reference(spark, snap_ids, changes):
    """For arbitrary changelogs (same-ts collisions, repeated keys,
    deletes of absent keys), apply_changelog == the obvious sequential
    replay of the latest change per key."""
    snap_rows = [(i, f"v{i}") for i in snap_ids]
    ch_rows = [
        (cid, f"c{cid}_{seq}", ts, seq, op)
        for seq, (cid, ts, _, op) in enumerate(changes)
    ]
    snap = spark.createDataFrame(snap_rows, "id long, val string") if snap_rows else (
        spark.createDataFrame([], "id long, val string")
    )
    ch = spark.createDataFrame(
        ch_rows, "id long, val string, ts long, seq long, op string"
    ) if ch_rows else spark.createDataFrame([], "id long, val string, ts long, seq long, op string")

    got = {r.id: r.val for r in I.apply_changelog(snap, ch).collect()}

    # python reference: latest (ts, seq) change per key wins
    latest: dict[int, tuple] = {}
    for cid, val, ts, seq, op in ch_rows:
        if cid not in latest or (ts, seq) > (latest[cid][0], latest[cid][1]):
            latest[cid] = (ts, seq, val, op)
    expect = {i: f"v{i}" for i in snap_ids}
    for cid, (_, _, val, op) in latest.items():
        if op == "D":
            expect.pop(cid, None)
        else:
            expect[cid] = val
    assert got == expect


events_strategy = st.lists(
    st.tuples(ids, st.integers(min_value=0, max_value=100)),
    min_size=1,
    max_size=30,
)


@given(evs=events_strategy)
@settings(**PROP_SETTINGS)
def test_rate_limit_matches_python_reference(spark, evs):
    """Arbitrary event streams: per-(user, tumbling-window) quota
    admits exactly the first N by (ts, id)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (eid, base + dt.timedelta(seconds=sec), uid, 1.0)
        for eid, (uid, sec) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    got = {
        r.event_id: r.admitted
        for r in P.events_rate_limit(df, max_per_window=2, window_sec=30).collect()
    }
    counts: dict[tuple, int] = {}
    expect = {}
    for eid, ts, uid, _ in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
        sec = int((ts - base).total_seconds())
        win = sec - sec % 30
        k = (uid, win)
        counts[k] = counts.get(k, 0) + 1
        expect[eid] = counts[k] <= 2
    assert got == expect


values_strategy = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=40
)


@given(vals=values_strategy)
@settings(**PROP_SETTINGS)
def test_global_rank_matches_sorted_reference(spark, vals):
    """Arbitrary (duplicate-heavy) values: the distributed prefix-rank
    equals python's sorted() with (value, id) tiebreak, and pct spans
    [0, 1]."""
    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id long, q double")
    got = {r.doc_id: (r.rank, r.pct) for r in global_rank(df, "q", n_parts=3).collect()}
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    n = len(rows)
    for rank0, (i, _) in enumerate(order):
        assert got[i][0] == rank0 + 1
        expect_pct = rank0 / (n - 1) if n > 1 else 0.0
        assert abs(got[i][1] - expect_pct) < 1e-12


# ---------------------------------------------------------------------------
# salted join ≡ plain join on arbitrary inputs (round 8)
# ---------------------------------------------------------------------------

fact_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 5)),  # key incl. NULLs
        st.integers(0, 99),                       # payload
    ),
    min_size=0,
    max_size=25,
)
dim_rows = st.lists(
    st.tuples(st.integers(0, 5), st.text(alphabet="abc", max_size=2)),
    min_size=0,
    max_size=8,
)


@given(fact=fact_rows, dim=dim_rows, salts=st.integers(1, 5))
@settings(**PROP_SETTINGS)
def test_salted_join_equals_plain_join(spark, fact, dim, salts):
    from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.operators.relational import (
        salted_join,
    )

    f = spark.createDataFrame(fact, "k int, payload int") if fact else (
        spark.createDataFrame([], "k int, payload int")
    )
    d = spark.createDataFrame(dim, "dk int, label string") if dim else (
        spark.createDataFrame([], "dk int, label string")
    )
    def norm(rows):
        # None is unorderable vs int/str — sort with a null-first key
        return sorted(rows, key=lambda t: tuple((v is None, v) for v in t))

    for how in ("inner", "left"):
        got = norm(
            (r.k, r.payload, r.label)
            for r in salted_join(f, d, "k", "dk", salts=salts, how=how).collect()
        )
        want = norm(
            (r.k, r.payload, r.label)
            for r in f.join(d, f["k"] == d["dk"], how).drop("dk").collect()
        )
        assert got == want, (how, salts)
