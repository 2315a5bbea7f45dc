"""Closed-form tail probabilities as Spark Column expressions.

Both engines must see the SAME arithmetic, so every formula here is an
explicit polynomial/series a DuckDB oracle can restate literally — no
scipy, no JVM special functions whose last-ulp behavior could differ:

- ``erf_as``: Abramowitz & Stegun 7.1.26 (max abs error 1.5e-7), the
  one Spark spelling of erf every statistics face calls.
- ``normal_two_sided_p``: 2*(1 - Phi(|z|)) = 1 - erf(|z|/sqrt(2)).
- ``chi2_sf_df1``: P(chi2_1 > x) = 1 - erf(sqrt(x/2)).
- ``chi2_sf_df4``: even-df closed form exp(-x/2) * (1 + x/2) (the
  Ljung-Box trick, queries/timeseries_face.py).
- ``erfc_as_sql`` / ``normal_sf_signed_sql``: the DuckDB text of the
  same polynomial, for oracles that compose it rather than restate it.

The reference (`/root/reference/`) has no analytics surface; these
support the engine-only statistics faces.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def erf_as(x: Column) -> Column:
    """Abramowitz-Stegun 7.1.26 erf approximation for x >= 0."""
    tt = 1 / (1 + 0.3275911 * x)
    poly = (
        (((1.061405429 * tt - 1.453152027) * tt + 1.421413741) * tt - 0.284496736)
        * tt
        + 0.254829592
    ) * tt
    return 1 - poly * F.exp(-x * x)


def normal_two_sided_p(z: Column) -> Column:
    """Two-sided normal p-value 2*(1 - Phi(|z|))."""
    return 1 - erf_as(F.abs(z) / math.sqrt(2.0))


def chi2_sf_df1(x: Column) -> Column:
    """Upper-tail chi-square probability at 1 degree of freedom."""
    return 1 - erf_as(F.sqrt(x / 2))


def chi2_sf_df4(x: Column) -> Column:
    """Upper-tail chi-square probability at 4 degrees of freedom."""
    return F.exp(-x / 2) * (1 + x / 2)


def normal_sf_signed(x: Column) -> Column:
    """One-sided upper tail P(Z > x) for a SIGNED x:
    1 - Phi(x) = 0.5 * (1 - sign(x) * erf(|x|/sqrt(2)))."""
    s = F.when(x >= 0, 1.0).otherwise(-1.0)
    return 0.5 * (1 - s * erf_as(F.abs(x) / math.sqrt(2.0)))


def chi2_sf_df10(x: Column) -> Column:
    """Upper-tail chi-square probability at 10 degrees of freedom:
    exp(-x/2) * sum_{j=0}^{4} (x/2)^j / j! (even-df closed form)."""
    h = x / 2
    return F.exp(-h) * (1 + h + h * h / 2 + h * h * h / 6 + h * h * h * h / 24)


def erfc_as_sql(t: str, x: str) -> str:
    """DuckDB text of 1 - erf_as(x), given SQL expressions ``x`` and
    ``t`` = 1 / (1 + 0.3275911 * x)."""
    return (
        f"((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741) * {t}"
        f" - 0.284496736) * {t} + 0.254829592) * {t} * exp(-{x} * {x})"
    )


def normal_sf_signed_sql(z: str) -> str:
    """DuckDB text of normal_sf_signed on the SQL expression ``z``."""
    x = f"(abs({z})/sqrt(2.0))"
    t = f"(1/(1+0.3275911*abs({z})/sqrt(2.0)))"
    return f"0.5 * (1 - (CASE WHEN {z} >= 0 THEN 1.0 ELSE -1.0 END) * (1 - {erfc_as_sql(t, x)}))"
