"""Shared column expression helpers.

Money discipline (SURVEY.md section 7 D4/D11): every monetary aggregate is
computed in DECIMAL so results are exact and order-independent (double sums
across shuffle partitions are not associative-stable), then rounded to 2 (sums)
or 4 (avgs/percentages) decimal places and cast to double for a stable,
engine-portable output type.  The DuckDB oracle SQL applies the identical
CAST(x AS DECIMAL(18,2)) -> SUM -> ROUND -> ::DOUBLE pipeline, so value hashes
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

DEC = DecimalType(18, 2)
DEC4 = DecimalType(18, 4)


def dec(c: Column | str) -> Column:
    """Cast to exact DECIMAL(18,2) before arithmetic/aggregation."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


# fround: engine-portable half-up rounding of a DOUBLE at `scale` decimals:
# floor(x * 10^s + 0.5) / 10^s computed entirely in IEEE doubles.  Every
# engine performs the identical float ops, so the result is bit-identical
# everywhere.  round(double, s) is NOT portable: when the quotient lands
# exactly on a representable .xxx5 tie (power-of-two denominators make this
# real -- found at sf0.1), Spark (shortest-decimal-string HALF_UP) and
# DuckDB (binary-value rounding) disagree by 1 ulp of the last digit.
def fround(x: Column, scale: int = 4) -> Column:
    factor = F.lit(float(10**scale))
    return F.floor(x * factor + F.lit(0.5)).cast("double") / factor


def sql_floor_round(x: str, scale: int = 4) -> str:
    """DuckDB twin of _floor_round -- identical op order, identical doubles."""
    return f"FLOOR(({x}) * {float(10 ** scale)} + 0.5) / {float(10 ** scale)}"


def avg4_exact(sum_col: Column, cnt_col: Column) -> Column:
    """Deterministic 4-dp average as DECIMAL(18,4), safe to re-aggregate.

    exact-decimal sum -> double division -> portable half-up floor-round(4)
    -> back to decimal, so a downstream SUM over these averages is again
    exact/order-independent (needed for the reference's weighted-average
    reconstruction, Q2)."""
    return fround(sum_col.cast("double") / cnt_col.cast("double"), 4).cast(DEC4)


def money(c: Column) -> Column:
    """Final-output form of an exact monetary value: round(2) as double."""
    return F.round(c, 2).cast("double")


def ratio(num: Column, den: Column, scale: int = 4) -> Column:
    """avg/percent form: exact numerator -> double division -> portable
    half-up floor-round at `scale` (see _floor_round)."""
    return fround(num.cast("double") / den.cast("double"), scale)


def floor_div(a: Column, b: Column) -> Column:
    """floor(a / b) exactly on integers.  Spark's `div` and DuckDB's `//`
    both truncate toward zero, so subtracting the mathematical remainder
    first (a - ((a % b + b) % b): exactly divisible, where truncation and
    floor coincide) gives the floor on both engines; the oracles spell the
    same expression in SQL.  With a = 2s + n and b = 2n it is the half-up
    integer mean of n values summing to s."""
    return F.call_function("div", a - ((a % b + b) % b), b)


# Oracle-side (DuckDB SQL) fragments mirroring the helpers above.
SQL_DEC = "CAST({x} AS DECIMAL(18,2))"


def sql_dec(x: str) -> str:
    return SQL_DEC.format(x=x)


def sql_money(x: str) -> str:
    return f"CAST(ROUND({x}, 2) AS DOUBLE)"


def sql_ratio(num: str, den: str, scale: int = 4) -> str:
    return sql_floor_round(f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)", scale)


def sql_avg4_exact(sum_x: str, cnt_x: str) -> str:
    return f"CAST({sql_floor_round(f'CAST({sum_x} AS DOUBLE) / CAST({cnt_x} AS DOUBLE)', 4)} AS DECIMAL(18,4))"


def cents_sum(qty: Column | str, price: Column | str) -> Column:
    """Exact SUM(qty * price) over 2-dp inputs, ~20% faster than the decimal
    product: the per-row multiply runs in LONG cents (exact because both
    inputs carry at most 2 decimals; round() undoes the double storage
    error), and only the SUM accumulates in decimal.  The result is cast to
    DECIMAL(38,4) -- the same type the dec*dec formulation produced -- so
    downstream schemas are unchanged.  Per-row products stay below 2^63 for
    any realistic qty*price; the unbounded accumulation is the decimal."""
    q = F.col(qty) if isinstance(qty, str) else qty
    p = F.col(price) if isinstance(price, str) else price
    prod = F.round(q * 100).cast("long") * F.round(p * 100).cast("long")
    return (F.sum(prod.cast("decimal(38,0)")) / F.lit(10000)).cast("decimal(38,4)")


def c100(c: Column | str) -> Column:
    """2-dp column as exact LONG cents (round undoes double storage error)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * 100).cast("long")


def sum_c100(c: Column | str) -> Column:
    """Exact SUM of a 2-dp column via long cents: the per-row value is a
    LONG (codegen integer add in the partial aggregate), only the final
    division returns to decimal.  Same result as SUM(dec(c))."""
    return (F.sum(c100(c)) / F.lit(100)).cast("decimal(38,2)")


def sum_rev_cents(price: Column | str, disc: Column | str) -> Column:
    """Exact SUM(price * (1 - disc)) over 2-dp inputs in long cents:
    price_c * (100 - disc_c) is exact 1e-4ths; products stay below 2^63 for
    any realistic row.  Same value as SUM(dec(price) * (1 - dec(disc)))."""
    prod = c100(price) * (F.lit(100) - c100(disc))
    return (F.sum(prod.cast("decimal(38,0)")) / F.lit(10_000)).cast("decimal(38,4)")


def sum_charge_cents(price: Column | str, disc: Column | str, tax: Column | str) -> Column:
    """Exact SUM(price * (1 - disc) * (1 + tax)) in long 1e-6ths."""
    prod = c100(price) * (F.lit(100) - c100(disc)) * (F.lit(100) + c100(tax))
    return (F.sum(prod.cast("decimal(38,0)")) / F.lit(1_000_000)).cast("decimal(38,6)")
