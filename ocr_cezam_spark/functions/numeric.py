"""Engine-identical rounding for cross-engine hash gates.

Spark's ``F.round`` on DOUBLE rounds the shortest-decimal *string* repr of
the value (HALF_UP on the decimal digits), while DuckDB's ``round`` rounds
the *binary* value — so a stored x.31499999… that prints as "x.315" rounds
up in Spark and down in DuckDB. Any query whose output hash is compared
across the two engines must therefore avoid ``round`` entirely and use the
same IEEE-754 op sequence on both sides:

    Spark : floor(x * 10^k + 0.5) / 10^k          (round_he below)
    DuckDB: floor((x) * 1e<k> + 0.5) / 1e<k>      (inline in oracle SQL)

Both engines evaluate identical multiplies/adds/floors on the identical
double, so the results are bit-equal. As a bonus the form can never emit
-0.0 (floor yields an integral value; v/10^k is -0.0 only when v is -0.0,
and floor(x + 0.5) returns +0 for any x in [-0.5, 0.5)), which removes the
-0.0-vs-0.0 stringification hazard that bit ``bigram_pmi`` in round 4.

Semantics note: for negative inputs this is half-up toward +inf (-2.345 →
-2.34), not HALF_UP away from zero — fine for gate parity because both
twins apply the same rule.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_he(col: Column | str, k: int) -> Column:
    """Half-up-toward-+inf rounding of a double to k decimal places using
    only IEEE ops that Spark and DuckDB evaluate identically.

    Returns DOUBLE (Spark floor(double) is LONG; the division restores
    double). Safe for |x| * 10^k < 2^63 — every gated metric here is a
    score/ratio/price sum orders of magnitude below that.
    """
    if isinstance(col, str):
        col = F.col(col)
    col = col.cast("double")
    f = F.lit(float(10 ** k))
    # Non-finite guard: Spark's floor(DOUBLE) returns LONG, which maps
    # NaN -> 0 and +/-Inf -> +/-Long.MAX — a plausible-looking corrupt
    # value — while DuckDB's floor keeps NaN/Inf. Propagate non-finite
    # inputs unchanged (matching DuckDB and the old F.round) and apply
    # the floor form only to finite values. NULL falls through the
    # otherwise branch as NULL.
    finite = ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))
    return F.when(finite, F.floor(col * f + F.lit(0.5)) / f).otherwise(col)
