"""Driver-cheap literal construction (guide §5: the driver should do
almost no data work — including py4j round trips).

``F.array(*[F.lit(x) for x in vals])`` costs one py4j round trip PER
ELEMENT (a 401-entry kernel LUT = 401 driver round trips per query
build; a 64x8 centroid table = 512) and hands Catalyst an n-child
``CreateArray`` tree to constant-fold on every analysis pass.
``F.lit(list)`` is sugar for the same per-element loop. Building the
literal as ONE ``F.expr`` string is ~300x cheaper at build time
(measured 2105 ms -> 7 ms for 4000 doubles) and value-exact: Python's
shortest round-trip ``repr`` names every double, and a
``D``-suffixed literal parses directly as DOUBLE via
``Double.parseDouble`` (correctly rounded — bare decimals would go
through a decimal literal whose ->double cast is the 1-ulp hazard
grid._sql_flit documents for DuckDB).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# Every element is written as a DOUBLE literal: the ``D`` suffix makes
# the SQL parser read it with ``Double.parseDouble`` whatever
# ``spark.sql.legacy.exponentLiteralAsDecimal.enabled`` says (a bare
# exponent literal turns DECIMAL under that flag). ``repr`` round-trips
# every finite double, subnormals and -0.0 included, and never overshoots
# the parser's range check at ±Double.MaxValue (17 fixed digits do); NaN and
# ±inf have no literal form and go through a constant-folded string
# cast. An empty list is cast to its element type (``array()`` alone is
# ``array<void>``).
_NONFINITE = {"nan": "CAST('NaN' AS DOUBLE)",
              "inf": "CAST('Infinity' AS DOUBLE)",
              "-inf": "CAST('-Infinity' AS DOUBLE)"}


def _d(x) -> str:
    try:
        x = float(x)
    except (TypeError, ValueError) as e:
        raise TypeError(
            f"array literal element {x!r} is not a real number") from e
    if not math.isfinite(x):
        return _NONFINITE[repr(x)]
    return f"{x!r}D"


def _arr(vals, elem: str) -> str:
    body = ",".join(vals)
    return f"array({body})" if body else f"CAST(array() AS ARRAY<{elem}>)"


def flit_arr(vals) -> Column:
    """``array<double>`` literal in ONE py4j call."""
    return F.expr(_arr((_d(x) for x in vals), "DOUBLE"))


def flit_arr2d(rows) -> Column:
    """``array<array<double>>`` literal in ONE py4j call."""
    return F.expr(_arr((_arr((_d(x) for x in row), "DOUBLE")
                        for row in rows), "ARRAY<DOUBLE>"))
