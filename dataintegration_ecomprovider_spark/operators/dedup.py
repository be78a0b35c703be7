"""Deterministic key-deduplication (reference E13).

The reference discards duplicates three ways: product PK dedup on
(ProductID, VariantID, LanguageID) first-row-wins (src/EcomDestinationWriter.cs:
1269-1278), a generic per-mapping DiscardDuplicates over the active mapped
columns (:1176), and relation-pair dedup via key hashtables (:2830, :2919).

Spark-first shape: never `dropDuplicates` alone when "first" matters —
input file order is not a stable notion under parallel scans, so "first
wins" must be expressed as a total order (row_number over explicit priority
columns).  One shuffle on the key columns; AQE handles skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_wins(
    df: DataFrame,
    keys: Sequence[str | Column],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep one row per key under a total order ("first row wins" with an
    explicit, retry-stable definition of first).  `keys` may be column
    names or expressions (e.g. ci()-normalized keys for the reference's
    case-insensitive collation)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


