"""Cross-engine-exact devices: order-independent numeric aggregation and
the md5-prefix integer hash.

IEEE-754 addition is not associative: Spark (partition-parallel partial
aggregation, the generalization of the reference's per-mapper ETS combine at
mapreduce.erl:275-282) and DuckDB sum doubles in different orders, so raw
``SUM(double)`` hashes can diverge in the low bits. Summing through DECIMAL
is exact and order-independent; casting each input double to DECIMAL rounds
identically on both engines because a double can never sit exactly on a
10^-6 half-way boundary (those are non-dyadic rationals).

Use ``dsum``/``dsum_sql`` for every double-typed SUM/AVG the oracle checks.

Spark's built-in hashes (xxhash64, murmur3) have no bit-identical DuckDB
counterpart, so every hash the oracle must reproduce is a hex prefix of
md5, which both engines compute identically: ``md5_prefix_int`` is the
Spark side, DuckDB spells it
``('0x' || substr(md5(CAST(col AS VARCHAR)), 1, n_hex))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(29,6)"  # |values| < 1e9 with 6 fractional digits; sums < 1e23


def dsum(col: Column | str) -> Column:
    """Exact, order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """Exact mean: decimal sum / count, divided in double (deterministic)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


def dsum_sql(expr: str) -> str:
    """DuckDB equivalent of ``dsum``."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(29,6))) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    """DuckDB equivalent of ``davg``."""
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(29,6))) AS DOUBLE) / COUNT({expr})"
    )


def md5_prefix_int(col: Column | str, n_hex: int) -> Column:
    """The first ``n_hex`` hex digits of md5(cast(col as string)) as a
    BIGINT; ``n_hex <= 15`` keeps it a non-negative long. NULL in, NULL
    out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, n_hex), 16, 10).cast(
        "long"
    )
