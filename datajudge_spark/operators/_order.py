"""The one rule mapping an orderable column to a bucketing proxy.

Both range-bucketed engines — the exact percentiles
(``scalars._exact_percentiles``) and the global cumulatives
(``stats._bucketed_global_cums``) — split a sorted domain into buckets
on this proxy and then order by the true value inside each bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _order_proxy_expr(df: DataFrame, column: str) -> Column | None:
    """A double Column that is (non-strictly) MONOTONE in the sort order
    of ``df[column]``, used only to range-bucket a domain — never to
    compare values (ties at proxy granularity just share a bucket, and
    the engines' windows order by the true value).

    - numeric: ``cast(double)`` (rounding is monotone; bigints past 2^53
      and wide decimals may tie)
    - date: days since epoch (exact, strictly monotone)
    - timestamp / timestamp_ntz: microseconds since epoch (exact; µs
      magnitudes ~1e15 stay below 2^53, so the double is exact)
    - string: the first 6 bytes AFTER the column-wide common prefix,
      zero-right-padded and read big-endian as a 48-bit integer.  Spark
      and DuckDB both order strings by unsigned UTF-8 byte comparison,
      so the byte prefix is monotone; the zero padding keeps shorter
      strings ordered before their extensions; 48 bits stay exact in a
      double.  Stripping the shared prefix (computed from one min/max
      agg) is what gives key-style columns ('Customer#000…') a usable
      spread instead of one hot bucket.

    Returns None for types without a cheap monotone proxy (binary,
    boolean, …) — callers keep such a domain in one bucket.
    """
    dtype = dict(df.dtypes)[column]
    value = F.col(column)
    if dtype.startswith("decimal") or dtype in (
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ):
        return value.cast("double")
    if dtype == "date":
        return F.datediff(value, F.lit("1970-01-01")).cast("double")
    if dtype in ("timestamp", "timestamp_ntz"):
        return F.unix_micros(value.cast("timestamp")).cast("double")
    if dtype == "string":
        mm = df.agg(F.min(value).alias("lo"), F.max(value).alias("hi")).first()
        if mm is None or mm["lo"] is None:
            return F.lit(0.0)  # empty input: callers see no rows
        blo = mm["lo"].encode("utf-8")
        bhi = mm["hi"].encode("utf-8")
        k = 0
        while k < len(blo) and k < len(bhi) and blo[k] == bhi[k]:
            k += 1
        ident = "`" + column.replace("`", "``") + "`"
        return F.expr(
            f"CAST(conv(hex(rpad(substring(CAST({ident} AS BINARY), "
            f"{k + 1}, 6), 6, x'00')), 16, 10) AS DOUBLE)"
        )
    return None
