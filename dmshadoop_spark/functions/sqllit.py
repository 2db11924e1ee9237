"""Literal-heavy plan fragments rendered as SQL strings — ONE
``F.expr`` py4j call instead of one call per literal node (round 12).

Why: building an expression with per-element ``F.lit``/``F.array``
Columns costs a py4j round trip per node on the DRIVER (~1 ms each), so
a k×dim centroid matrix burns hundreds of milliseconds before Spark sees
the query — per call, and per round in iterative loops. Rendering the
same tree as one SQL string moves the construction into the JVM parser.
Equivalence is exact: ``repr`` of a Python float is its shortest
round-trip form and the SQL parser's ``...D`` double literal parses it
back to the identical bits, so every pinned digest downstream is
unchanged.
"""

from __future__ import annotations

import math


def sql_double(x: float) -> str:
    """A SQL double literal that parses back to exactly ``x``.

    Non-finite values (round-12 advice): ``repr(inf)!r + "D"`` renders
    ``infD``/``nanD``, which the SQL parser REJECTS — so diverging GD
    weights or a NaN centroid would crash plan construction with an
    opaque ParseException mid-loop. They are rendered as the explicit
    string-cast forms the parser does accept; ``CAST('NaN' AS DOUBLE)``
    yields the same canonical quiet NaN ``F.lit(float('nan'))`` builds,
    and the infinities are exact. −0.0 and denormals round-trip through
    the ``repr`` branch (pinned by test_sqllit's property test)."""
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return (
        "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    )


def sql_double_array(values) -> str:
    """``array(...)`` of exact double literals."""
    return "array(" + ",".join(sql_double(x) for x in values) + ")"
