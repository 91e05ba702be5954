"""Vector math as Catalyst Column expressions (no Python UDFs).

The reference computes these in three hand-written backends — numpy
(shard/fallback_numpy_index.py:11-28), scalar C++
(shard/include/flat_index.hpp:21-71) and CUDA kernels
(shard/src/cuda/flat_kernels.cu:4-45). Here each is a *single reusable
Column builder* over Spark's higher-order functions (``transform`` /
``aggregate`` / ``zip_with``), so:

* the whole expression stays JVM-side inside whole-stage codegen — no
  Python round-trip in the hot scoring path;
* Catalyst can prune/push down around it;
* a DuckDB oracle can mirror it exactly (same double-precision
  sequential fold).

Semantics are the *fixed* version of the reference (SURVEY.md §2.1
defects): rows are L2-normalized at ingest (reference
fallback_numpy_index.py:11-13); ``cosine`` normalizes both sides;
``l2`` is explicit negative squared distance — consistent across all
call sites instead of differing per backend.

All arithmetic is in float64 regardless of the stored element type
(testdata stores float32): products/accumulations cast to double first,
which both matches DuckDB oracle math and avoids float32 accumulation
error at dim ≫ 64.

A single query against a column (``score(col, q, metric)`` with ``q`` a
Python sequence of numbers) follows the reference's search, which
normalizes the query once and then does one matmul
(fallback_numpy_index.py:20-24): the query's guarded norm is folded on
the driver with the same sequential float64 fold, the row norm is
computed once per row, and the whole score is built by one ``F.expr``
over generated SQL instead of ~30 py4j calls through the Column/lambda
API. Scores are bit-identical to the Column form
(``score(col, vec_lit(q))``); column-vs-column callers (the joins)
keep the Column builders. Every per-query constant sits inside a
lambda or the array literal: a bare top-level double literal is
inlined into whole-stage generated Java, which would cost a fresh
compile per query.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "l2_normalize",
    "cosine_sim",
    "l2sq",
    "neg_l2sq",
    "score",
    "vec_lit",
]

#: guard against division by zero for zero vectors — same epsilon the
#: reference uses (fallback_numpy_index.py:12 `norms[norms==0]=1e-12`).
_EPS = 1e-12


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _is_query(v) -> bool:
    """A driver-side query vector (a sequence of numbers), as opposed to
    a Column or a column name."""
    return not isinstance(v, (Column, str))


def _sql_double(x) -> str:
    """A double literal in Spark SQL that parses back to the same bits
    (``repr`` round-trips; NaN and ±inf have no numeric spelling)."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _query_sql(a: str, q: Sequence[float]) -> tuple[str, str]:
    """SQL text of the column ``a`` and of the query literal ``q``."""
    if not isinstance(a, str):
        raise TypeError("a query given as a sequence needs the column by name")
    col = "`" + a.replace("`", "``") + "`"
    return col, "array(" + ", ".join(_sql_double(x) for x in q) + ")"


def _guarded_norm(q: Sequence[float]) -> float:
    """The query's norm with the zero guard, folded on the driver exactly
    as :func:`l2_norm` folds it in the JVM (``s = s + x*x`` in order,
    then ``sqrt``), so it has the same bits."""
    s = 0.0
    for x in q:
        x = float(x)
        s = s + x * x
    n = math.sqrt(s)
    return _EPS if n == 0.0 else n


def vec_lit(vec) -> Column:
    """A literal dense vector as an ``array<double>`` Column."""
    return F.array(*[F.lit(float(x)) for x in vec])


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold double-precision dot product.

    Mirrors the reference inner loop (flat_index.hpp:48-50, one
    multiply-add per dimension) but as a codegen'd expression.
    """
    a, b = _as_col(a), _as_col(b)
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm ``sqrt(Σ x²)`` (reference flat_index.hpp:21-23)."""
    a = _as_col(a)
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(a: Column | str) -> Column:
    """Scale to unit norm; zero vectors stay zero (ε substituted for
    the zero norm only, never clamping a tiny-but-nonzero norm).

    This is the reference's exact rule (`norms[norms==0]=1e-12`,
    fallback_numpy_index.py:11-13): a vector with norm 1e-38 still
    normalizes to a unit vector. A ``greatest(norm, ε)`` clamp instead
    silently under-scales sub-ε vectors and breaks idempotence —
    caught by the hypothesis property test with v=[0,0,0,1.18e-38].
    """
    a = _as_col(a)
    n = l2_norm(a)
    denom = F.when(n == 0.0, F.lit(_EPS)).otherwise(n)
    return F.transform(a, lambda x: x.cast("double") / denom)


def cosine_sim(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Cosine similarity — dot over the product of per-side guarded
    norms (ε substituted only for an exactly-zero norm, same rule as
    :func:`l2_normalize`).

    On pre-normalized corpora this reduces to ``dot`` (what the
    reference exploits: normalize-on-insert makes cosine a plain matmul,
    fallback_numpy_index.py:22-24); this form is correct for raw inputs
    too. Guarding per side (not the product) keeps it consistent with
    normalize-then-dot — a sub-ε-norm vector still gets its true
    cosine; only genuine zero vectors score ~0.

    ``b`` may be a query vector (a sequence of numbers, ``a`` then a
    column name): its guarded norm is folded on the driver and the
    score is one generated SQL expression, bit-identical to
    ``cosine_sim(a, vec_lit(b))``.
    """
    if _is_query(b):
        b = list(b)
        col, q = _query_sql(a, b)
        # the row norm is folded once (its finish lambda applies the
        # guard: sqrt(s) == 0 iff s == 0), and the division sits in the
        # dot's finish lambda, in the same order as below
        row_norm = (
            f"aggregate({col}, 0.0D, (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE), "
            f"s -> IF(s = 0.0D, {_sql_double(_EPS)}, sqrt(s)))"
        )
        return F.expr(
            f"aggregate(zip_with({col}, {q}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"0.0D, (acc, v) -> acc + v, "
            f"d -> d / ({row_norm} * {_sql_double(_guarded_norm(b))}))"
        )
    a, b = _as_col(a), _as_col(b)
    na, nb = l2_norm(a), l2_norm(b)
    denom = (
        F.when(na == 0.0, F.lit(_EPS)).otherwise(na)
        * F.when(nb == 0.0, F.lit(_EPS)).otherwise(nb)
    )
    return dot(a, b) / denom


def l2sq(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance Σ (x−y)²."""
    a, b = _as_col(a), _as_col(b)
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def neg_l2sq(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Negative squared L2 — the reference's "l2" *score* orientation:
    higher is better (fallback_numpy_index.py:27-28, flat_kernels.cu:44,
    coordinator/main.py:75 comment)."""
    if _is_query(b):
        col, q = _query_sql(a, b)
        return F.expr(
            f"-aggregate(zip_with({col}, {q}, (x, y) -> "
            f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
            f"0.0D, (acc, v) -> acc + v)"
        )
    return -l2sq(a, b)


def score(
    a: Column | str, b: Column | str | Sequence[float], metric: str = "cosine"
) -> Column:
    """Metric dispatch (reference coordinator/main.py:31 +
    fallback_numpy_index.py:22-28): ``cosine`` → cosine similarity,
    anything else → negative squared L2, score always
    higher-is-better. ``b`` is a Column, a column name, or a query
    vector as a sequence of numbers (then ``a`` must be a column
    name)."""
    if metric == "cosine":
        return cosine_sim(a, b)
    return neg_l2sq(a, b)
