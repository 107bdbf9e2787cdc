"""Order-insensitive money aggregation — the fix for the ROUND(sum,2)
half-step flake class (PARITY_r12, VERDICT r12 #2).

The failure mode: ``round(sum(double_money_expr), d)`` over a large
group lands within accumulation-order ulp of the 10^-d half-step, so
the rounded cent flips run-to-run with shuffle merge order
(join_multiway_star at sf1.0: 1800847890.04 vs .05, one cell, one
round).  Any fix must make the ACCUMULATION exact and order-free.

Why not the obvious ``SUM(CAST(expr AS DECIMAL(38,6)))`` on both sides
(the fix PARITY_r12 queued): the two engines disagree on the
double→decimal cast itself.  Measured on this container (round 13):

    value                 DuckDB CAST(… AS DECIMAL(30,6))  Spark cast
    3.14159265358979      3.141592                         3.141593
    97.5324995            97.532499                        97.532500
    123456789.1234565     123456789.123456                 123456789.123457

Money products carry full double mantissas, so ~half of all rows would
disagree by 1e-6 and the group sums would diverge deterministically —
strictly worse than the flake.  The cast is engine-defined; IEEE-754
arithmetic and ``floor`` are not.

The scheme used here (every step bit-identical across engines):

1. **Per-row quantization to exact integer micro-units** (1e-6 grid):
   ``floor(expr * 1e6 + 0.5)``.  ``expr`` is the identical double in
   both engines (same IEEE multiply/add on the same parquet values),
   ``* 1e6`` and ``+ 0.5`` are single IEEE ops, and ``floor`` is exact
   — no engine-defined rounding anywhere.
2. **Exact integer accumulation** — Spark sums DECIMAL(38,0), DuckDB
   sums HUGEINT: both exact and order-insensitive by construction.
   (BIGINT would overflow at ~9.2e12 money units; 38-digit decimal /
   128-bit hugeint carry to ~1e32 — any cluster scale.)
3. **HALF_UP to cents in integer space**: ``(|s| + 5000) intdiv 10000``
   with the sign reapplied.  Integral division on the non-negative
   operand makes Spark ``div`` (truncating) and DuckDB ``//``
   (truncating on HUGEINT) agree everywhere, including negative sums.
4. **One exact conversion at the end**: ``cents / 100.0``.  Both
   engines convert the identical integer to the nearest double and
   perform the identical IEEE division, so the OUTPUT doubles are
   bit-equal — the driver's value-hash sees one canonical cent value,
   at any scale, under any partitioning.

The certified semantics change from "round half-up of the IEEE sum"
to "round half-up of the sum of 1e-6-quantized terms" — a deliberate
redefinition (quantization drift is < 1e-3 cents even over 1e7 rows,
and the OLD semantics were not a function of the data at all once the
sum outgrew the rounding grid).  Every key that switches is appended
to ``OUTPUT_CHANGED`` in the repo-root driver_window.py so the driver
re-grades the new form.

100 TB: the quantize-and-integer-sum runs entirely in whole-stage
codegen (floor/cast/decimal-sum are Catalyst built-ins with map-side
partial aggregation); decimal(38,0) partials are 16 bytes — the same
cost profile as the double sum it replaces.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Per-row quantization grid: 1e-6 money units (sub-cent by 1e4).
_GRID = 1_000_000


def micro_units(expr: Column) -> Column:
    """``expr`` (double) quantized HALF_UP to exact integer 1e-6 units,
    as DECIMAL(38,0).  Bit-identical in DuckDB as
    ``CAST(floor(expr * 1000000.0 + 0.5) AS HUGEINT)``."""
    return F.floor(expr * F.lit(float(_GRID)) + F.lit(0.5)).cast("decimal(38,0)")


def money_sum(expr: Column, nd: int = 2) -> Column:
    """Order-insensitive replacement for ``F.round(F.sum(expr), nd)``
    on money expressions (``nd`` = 2 for cents, 6 for the micro grid
    itself).  NULL-transparent like SUM: an all-NULL group yields NULL
    (NULL rides through floor/cast/sum identically in both engines).
    NaN is caller-owned: Spark coerces floor(NaN) to 0 while DuckDB's
    HUGEINT cast raises — money columns must be NaN-free (the fixtures
    are).  Pair with :func:`money_sum_sql` on the oracle side."""
    s = F.sum(micro_units(expr))
    if nd >= 6:
        return s.cast("double") / F.lit(float(_GRID))
    step = _GRID // (10**nd)
    # exact decimal division: |s|+half ≤ 38 digits, /step needs ≤ 6
    # fractional digits, Spark's allowPrecisionLoss result type
    # decimal(38,6) holds the quotient exactly; floor is then exact.
    q = F.floor((F.abs(s) + F.lit(step // 2)) / F.lit(step))
    signed = F.when(s < 0, -q).otherwise(q)
    return signed.cast("double") / F.lit(float(10**nd))


def money_sum_sql(expr: str, nd: int = 2, *, dialect: str = "duck",
                  filter_where: str | None = None) -> str:
    """The SQL-string twin of :func:`money_sum` — ``dialect='duck'``
    for oracles (HUGEINT sum, ``//`` integral division, FILTER clause
    support) and ``dialect='spark'`` for plans phrased as spark.sql()
    strings (DECIMAL(38,0) sum, ``div``)."""
    if dialect == "duck":
        micro = f"CAST(floor(({expr}) * 1000000.0 + 0.5) AS HUGEINT)"
        intdiv = "//"
    else:
        micro = f"CAST(floor(({expr}) * 1000000.0 + 0.5) AS DECIMAL(38,0))"
        intdiv = "div"
    s = f"sum({micro})"
    if filter_where is not None:
        if dialect != "duck":
            raise ValueError("FILTER clause is duck-only; use CASE WHEN in Spark")
        s = f"{s} FILTER (WHERE {filter_where})"
    if nd >= 6:
        inner = s if dialect == "duck" else f"CAST({s} AS DOUBLE)"
        return f"({inner} / 1000000.0)"
    step = _GRID // (10**nd)
    half = step // 2
    cents = (f"CASE WHEN {s} < 0 THEN -((-{s} + {half}) {intdiv} {step}) "
             f"ELSE ({s} + {half}) {intdiv} {step} END")
    if dialect == "duck":
        return f"({cents} / {float(10 ** nd)!r})"
    return f"(CAST({cents} AS DOUBLE) / {float(10 ** nd)!r})"
