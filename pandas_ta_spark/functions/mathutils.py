"""Weight vectors and math helpers for the WROLL family.

Twins of ``pandas_ta/utils/_math.py#pascals_triangle``, ``#fibonacci``,
``#symmetric_triangle``, ``#weights`` — computed driver-side as plain
Python lists, applied by the kernel dot product (functions/pdkernels.py
``wroll_pd``) and baked into its DuckDB twin (functions/windows.py
``sql_wroll``).
"""

from __future__ import annotations

import math


def pascals_triangle(n: int, weighted: bool = False) -> list[float]:
    """Row n-1 of Pascal's triangle (pandas_ta passes n=length-1 internally;
    we take the window length and return `length` weights)."""
    row = [math.comb(n - 1, i) for i in range(n)]
    total = float(sum(row))
    return [w / total for w in row] if weighted else [float(w) for w in row]


def fibonacci(n: int, weighted: bool = True) -> list[float]:
    """First n Fibonacci numbers (1,1,2,3,...), optionally sum-normalized."""
    fibs = [1.0, 1.0]
    while len(fibs) < n:
        fibs.append(fibs[-1] + fibs[-2])
    fibs = fibs[:n]
    total = sum(fibs)
    return [f / total for f in fibs] if weighted else fibs


def symmetric_triangle(n: int, weighted: bool = True) -> list[float]:
    """Symmetric triangle weights e.g. n=4 -> [1,2,2,1] (pandas_ta swma)."""
    if n == 2:
        tri = [1.0, 1.0]
    elif n % 2 == 0:
        half = list(range(1, n // 2 + 1))
        tri = [float(x) for x in half + half[::-1]]
    else:
        half = list(range(1, n // 2 + 2))
        tri = [float(x) for x in half + half[:-1][::-1]]
    total = sum(tri)
    return [t / total for t in tri] if weighted else tri


def linear_weights(n: int) -> list[float]:
    """WMA weights 1..n (oldest..newest), normalized."""
    total = n * (n + 1) / 2.0
    return [i / total for i in range(1, n + 1)]


def sine_weights(n: int) -> list[float]:
    """sinwma weights sin(pi*(i+1)/(n+1)), normalized."""
    ws = [math.sin(math.pi * (i + 1) / (n + 1)) for i in range(n)]
    total = sum(ws)
    return [w / total for w in ws]


def alma_weights(n: int, sigma: float = 6.0, dist_offset: float = 0.85) -> list[float]:
    """Arnaud Legoux gaussian weights (pandas_ta/overlap/alma.py#alma)."""
    m = dist_offset * (n - 1)
    s = n / sigma
    ws = [math.exp(-((i - m) ** 2) / (2 * s * s)) for i in range(n)]
    total = sum(ws)
    return [w / total for w in ws]
