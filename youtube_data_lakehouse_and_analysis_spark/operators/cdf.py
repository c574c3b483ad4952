"""Histogram-CDF quantile cuts — the no-global-sort replacement for a
global NTILE(k) over a column whose values fall in a bounded bin domain:

    histogram (bin, cnt) → SUM(cnt) over rows unbounded preceding
    / SUM(cnt) over the empty window → CEIL(k · cdf) → int

Both windows run over the HISTOGRAM, whose size is set by the bin domain
(score values, calendar days, whole dollars), never by the row count, so
the one single-partition step stays bounded at any scale. Callers
broadcast-join the (bin, bucket) table back onto their rows. Buckets are
tie-preserving: rows with the same bin share a bucket, where NTILE splits
the tie on a second key.

NULL bins count toward the total and the running sum but match no row in
an equi-join. Spark sorts ASC NULLS FIRST and DESC NULLS LAST; DuckDB
puts NULLs last in both directions, so the SQL twin writes Spark's order
out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cdf_cuts(
    df: DataFrame, bin_col: str, k: int, out_col: str, descending: bool = False
) -> DataFrame:
    """(bin_col, out_col) cut table: bucket 1..k of each bin value from
    the cumulative histogram of `df[bin_col]`, ascending (or descending,
    bucket 1 = the highest bins)."""
    hist = df.groupBy(bin_col).agg(F.count("*").alias("cnt"))
    order = F.desc(bin_col) if descending else F.asc(bin_col)
    w_cum = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    return hist.select(
        bin_col,
        F.ceil(F.lit(float(k)) * F.sum("cnt").over(w_cum) / F.sum("cnt").over(w_all))
        .cast("int")
        .alias(out_col),
    )


def sql_cdf_cuts(
    name: str, source: str, bin_col: str, k: int, out_col: str, descending: bool = False
) -> str:
    """DuckDB CTE `name AS (...)` that mirrors cdf_cuts over the relation
    `source`, with Spark's NULL order spelled out."""
    order = "DESC NULLS LAST" if descending else "ASC NULLS FIRST"
    return f"""{name} AS (
         SELECT {bin_col},
                CAST(CEIL({float(k)} * SUM(cnt) OVER (ORDER BY {bin_col} {order}
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     / SUM(cnt) OVER ()) AS INT) AS {out_col}
         FROM (SELECT {bin_col}, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM {source} GROUP BY {bin_col}) h)"""
