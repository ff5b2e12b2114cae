"""Term-frequency tables and joins.

Reference: splink/internals/term_frequencies.py:32-55 — per column:
``SELECT col, count(*)::float8 / (SELECT count(col) FROM concat) AS tf_col
  FROM concat WHERE col IS NOT NULL GROUP BY col``
and :79-109 — LEFT JOIN each tf table back onto the concat.

Scale notes: the denominator is computed with a map-side partial count (one
aggregate, no window over all rows); tf tables are ~|distinct values| rows so
the re-join broadcasts. The Linker builds each table once and keeps it
cached (``Linker.tf_tables``), so every consumer — the concat join, online
probes, chart data — reads the same small table instead of re-aggregating
the base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compute_term_frequencies(
    concat: DataFrame, column: str, tf_prefix: str = "tf_"
) -> DataFrame:
    """tf table: (column, tf_<column>) with tf = count / total non-null count."""
    nonnull = concat.where(F.col(column).isNotNull())
    counts = nonnull.groupBy(column).agg(F.count(F.lit(1)).alias("__n"))
    # scalar total via a 1-row cross join (map-side partial agg, no shuffle of
    # the full table through a window)
    total = nonnull.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col(column),
            (F.col("__n").cast("double") / F.col("__total").cast("double")).alias(
                f"{tf_prefix}{column}"
            ),
        )
    )


def join_term_frequencies(
    concat: DataFrame, tf_tables: dict[str, DataFrame]
) -> DataFrame:
    """concat_with_tf: LEFT JOIN each tf table; tf tables are small → broadcast."""
    out = concat
    for column, tf in tf_tables.items():
        out = out.join(F.broadcast(tf), on=column, how="left")
    return out

