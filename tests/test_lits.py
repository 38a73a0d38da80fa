"""One-call array literals: every element round-trips as DOUBLE."""

from __future__ import annotations

import struct

import pytest

from cngi_prototype_spark.functions.lits import flit_arr, flit_arr2d

LEGACY = "spark.sql.legacy.exponentLiteralAsDecimal.enabled"
EDGE = [float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
        5e-324,                   # smallest subnormal
        2.2250738585072009e-308,  # largest subnormal
        1.7976931348623157e308, 0.1, 1.0 / 3.0, -2.5e-300]


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


@pytest.mark.parametrize("legacy", ["false", "true"])
def test_flit_arr_edge_values_round_trip_as_double(spark, legacy):
    """NaN, ±inf, −0.0, subnormals and the empty list come back as
    DOUBLE arrays with the exact input bits, whether or not the legacy
    flag parses exponent literals as DECIMAL."""
    old = spark.conf.get(LEGACY, "false")
    spark.conf.set(LEGACY, legacy)
    try:
        df = spark.range(1).select(
            flit_arr(EDGE).alias("a"), flit_arr([]).alias("e"),
            flit_arr2d([EDGE, [], [1.5]]).alias("b"),
            flit_arr2d([]).alias("e2"))
        assert dict(df.dtypes) == {
            "a": "array<double>", "e": "array<double>",
            "b": "array<array<double>>", "e2": "array<array<double>>"}
        r = df.collect()[0]
    finally:
        spark.conf.set(LEGACY, old)
    assert [_bits(x) for x in r.a] == [_bits(x) for x in EDGE]
    assert r.e == [] and r.e2 == []
    assert [_bits(x) for x in r.b[0]] == [_bits(x) for x in EDGE]
    assert r.b[1] == [] and r.b[2] == [1.5]


def test_flit_arr_rejects_non_numbers():
    with pytest.raises(TypeError, match="not a real number"):
        flit_arr([1.0, None])
    with pytest.raises(TypeError, match="not a real number"):
        flit_arr2d([[1.0], ["x"]])
