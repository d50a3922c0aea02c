"""The correctness gate, run locally: every catalog query must match its
DuckDB oracle at sf0.001 (fast) — mirrors the driver's sf0.01 check —
return rows, and plan no global window."""

from __future__ import annotations

import pytest

from garmin_performance_analysis_spark.harness.catalog import CATALOG
from garmin_performance_analysis_spark.harness.compare import (
    compare_frames,
    duckdb_connection,
)
from garmin_performance_analysis_spark.plans import checks

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def oracle_con():
    return duckdb_connection(SF_SMOKE)


# g5: the 3-core of the generator graph is GENUINELY empty at sf0.001
# (measured: the peel empties in 3 rounds; at sf0.01 the core is 873
# nodes, so the sf0.01 parity check is non-vacuous).  An empty result
# here is the correct answer, oracle-confirmed.
EMPTY_OK = {"g5_kcore"}


@pytest.mark.parametrize("name", sorted(CATALOG))
def test_query_matches_oracle(name, spark, oracle_con):
    spec = CATALOG[name]
    df = spec.fn(spark, SF_SMOKE)
    # zero-tolerance gate for the 'move every row to one partition'
    # window anti-pattern (the round-4 x7/v7 defect): every window must
    # carry a partition clause — bounded rank-the-top-k frames use the
    # NON-FOLDABLE constant key from ``operators.windows.
    # bounded_partition_key`` (a plain ``lit(0)`` is optimized away and
    # re-trips this gate), so Spark's "No Partition Defined for Window
    # operation" warning stays out of the bench tail
    bad = checks.global_window_specs(df)
    assert not bad, f"{name} has a global window: {bad[0][:120]}"
    spark_pdf = df.toPandas()
    # a degenerate (0-row) result would make the oracle check vacuous
    if name not in EMPTY_OK:
        assert len(spark_pdf) > 0, f"{name} returned 0 rows at sf0.001"
    if spec.oracle is None:
        return  # rows-only entry: no oracle to compare against
    oracle_pdf = oracle_con.sql(spec.oracle).df()
    # strict = the driver-faithful mode: dtype-sensitive, full-precision
    # (the tolerant default hid the round-4 e7/d10/t8 HUGEINT failures)
    res = compare_frames(name, spark_pdf, oracle_pdf, strict=True)
    assert res.ok, res.detail


def test_strict_mode_distinguishes_int_from_float():
    """The round-4 driver failure class: DuckDB HUGEINT sums land in
    pandas as float64 (271.0) while Spark returns int64 (271).  The
    tolerant comparator folds them together; strict mode must not."""
    import pandas as pd

    a = pd.DataFrame({"x": pd.array([271], dtype="int64")})
    b = pd.DataFrame({"x": pd.array([271.0], dtype="float64")})
    assert compare_frames("tolerant", a, b, strict=False).ok
    assert not compare_frames("strict", a, b, strict=True).ok


def test_strict_mode_full_precision():
    import pandas as pd

    a = pd.DataFrame({"x": [0.1234567001]})
    b = pd.DataFrame({"x": [0.1234567002]})
    assert compare_frames("tolerant", a, b, strict=False).ok  # 6dp rounding
    assert not compare_frames("strict", a, b, strict=True).ok


def test_null_shapes_normalize_identically():
    """pandas extension NA, NaT, and float32 NaN must all read as the
    same null as None/float64-NaN — in BOTH modes — or correct results
    false-fail when one frame carries extension dtypes (review r5)."""
    import numpy as np
    import pandas as pd

    a = pd.DataFrame({"x": pd.array([1, None], dtype="Int64")})
    b = pd.DataFrame({"x": [1.0, float("nan")]})
    assert compare_frames("tolerant", a, b, strict=False).ok
    # strict still flags the int-vs-float kind on the NON-null row
    res = compare_frames("strict", a, b, strict=True)
    assert not res.ok and "<null>" not in res.detail
    c = pd.DataFrame({"x": np.array([float("nan")], dtype="float32")})
    d = pd.DataFrame({"x": [float("nan")]})
    assert compare_frames("f32nan", c, d, strict=True).ok
    e = pd.DataFrame({"t": [pd.NaT]})
    f = pd.DataFrame({"t": [None]})
    assert compare_frames("nat", e, f, strict=True).ok
