"""Driver-side statistics math (no scipy in the sandbox).

Implements the standard public formulas: the Kolmogorov asymptotic
survival function for the two-sample KS test and the regularized
upper incomplete gamma function (series + continued fraction, cf.
Numerical Recipes §6.2 — public algorithm) for the chi-square
p-value. These run on tiny driver-side histograms; all heavy lifting
stays in Spark aggregations.
"""

from __future__ import annotations

import math


def ks_pvalue(d: float, n: int, m: int) -> float:
    """Asymptotic two-sample KS p-value (Kolmogorov distribution)."""
    if d <= 0:
        return 1.0
    ne = n * m / (n + m)
    return _kolmogorov_sf((math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * d)


def _gamma_p(a: float, x: float) -> float:
    """Regularized lower incomplete gamma P(a, x)."""
    if x < 0 or a <= 0:
        raise ValueError("bad args")
    if x == 0:
        return 0.0
    if x < a + 1.0:
        # series
        ap = a
        s = 1.0 / a
        delta = s
        for _ in range(500):
            ap += 1.0
            delta *= x / ap
            s += delta
            if abs(delta) < abs(s) * 1e-14:
                break
        return s * math.exp(-x + a * math.log(x) - math.lgamma(a))
    # continued fraction for Q, return 1-Q
    b = x + 1.0 - a
    c = 1e308
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < 1e-300:
            d = 1e-300
        c = b + an / c
        if abs(c) < 1e-300:
            c = 1e-300
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-14:
            break
    q = math.exp(-x + a * math.log(x) - math.lgamma(a)) * h
    return 1.0 - q


def chi2_pvalue(stat: float, dof: int) -> float:
    """P(X >= stat) for chi-square with ``dof`` degrees of freedom."""
    if dof <= 0:
        return 1.0
    return min(max(1.0 - _gamma_p(dof / 2.0, stat / 2.0), 0.0), 1.0)


def chi2_critical(dof: int, threshold: float) -> float:
    """Critical value c with P(X >= c) = threshold for chi-square with
    ``dof`` degrees of freedom, by bisection of :func:`chi2_pvalue`.
    The ONE shared implementation — streaming drift thresholds and the
    oracle SQL literals must come from the same bisection or they
    silently diverge."""
    lo, hi = 0.0, 1e6
    for _ in range(200):
        mid = (lo + hi) / 2
        if chi2_pvalue(mid, dof) < threshold:
            hi = mid
        else:
            lo = mid
    return (lo + hi) / 2


def _kolmogorov_sf(lam: float) -> float:
    """Kolmogorov survival function Q(lam) = 2 Σ (-1)^{k-1} e^{-2k²λ²}."""
    if lam <= 0:
        return 1.0
    s = 0.0
    for k in range(1, 101):
        term = 2.0 * (-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        s += term
        if abs(term) < 1e-12:
            break
    return min(max(s, 0.0), 1.0)


def ks1_pvalue(d: float, n: int) -> float:
    """Asymptotic ONE-sample KS p-value (observed vs a fully-known
    reference distribution): the Kolmogorov series with effective
    size n instead of the two-sample nm/(n+m)."""
    if d <= 0 or n <= 0:
        return 1.0
    return _kolmogorov_sf((math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n)) * d)


def kolmogorov_lambda_critical(threshold: float) -> float:
    """λ* with Q(λ*) = threshold. Because Q is monotone decreasing,
    ``p(d, n) < threshold  ⇔  (√n + 0.12 + 0.11/√n)·d > λ*`` — the
    per-size critical value collapses to ONE constant, so a windowed
    streaming query (whose n varies per window) can evaluate the
    drifted flag with plain arithmetic against this literal."""
    lo, hi = 0.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if _kolmogorov_sf(mid) < threshold:
            hi = mid
        else:
            lo = mid
    return (lo + hi) / 2
