"""Property tests for the pure-Python quantization kernels: the SQ
round-trip error bound holds for arbitrary inputs (no Spark session
needed — these are the driver-side kernels the distributed operators
delegate to)."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP_SETTINGS = dict(
    max_examples=40,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)

DIM = 6
finite = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False)
vec = st.lists(finite, min_size=DIM, max_size=DIM)


@given(vecs=st.lists(vec, min_size=1, max_size=30))
@settings(**PROP_SETTINGS)
def test_sq_roundtrip_error_bound(vecs):
    """The scalar-quantization arithmetic (Python analogue of
    operators.sq's column expressions; rounding mode differs only on
    exact .5 ties, which cannot break a half-step bound): codes stay in
    [0,255] and the dequantized value is within step/2 of the original
    for in-range inputs."""
    X = np.asarray(vecs, dtype=np.float64)
    lo = X.min(axis=0)
    hi = X.max(axis=0)
    step = (hi - lo) / 255.0
    for row in X:
        for d in range(X.shape[1]):
            if step[d] == 0.0:
                code = 0
            else:
                code = min(255, max(0, int(round((row[d] - lo[d]) / step[d]))))
            assert 0 <= code <= 255
            approx = lo[d] + code * step[d]
            bound = step[d] / 2 + 1e-9 * max(1.0, abs(row[d]))
            assert abs(approx - row[d]) <= bound
