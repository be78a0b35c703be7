"""Surrogate-ID assignment (reference A3 + E1).

The reference allocates `Imported<KIND><n>` ids for rows arriving without
one, continuing from the destination's high-water mark
(``MAX(CAST(SUBSTRING(id,...) AS INT))`` over ``LIKE 'Imported<KIND>%'``,
GetLastId src/EcomDestinationWriter.cs:488-667; allocation sites e.g. PROD
:1590, GROUP :2101, MANU :2213).

Spark-first shape: the high-water mark is one map-side-max aggregate; the
allocation is a global rank over the rows needing ids, plus the offset.
Determinism matters (SURVEY §4): `monotonically_increasing_id` changes
across retries/partitionings; a rank over an explicit unique ordering does
not.

The global rank is computed WITHOUT a single-partition window (which would
funnel the whole unkeyed slice through one task — fatal when a fresh
100 TB load has no ids at all).  Instead: range-partition on the order
key, per-partition `row_number`, and add each partition's cumulative
predecessor count (a broadcast of at most `num_partitions` rows).  Range
boundaries are sampled once (the partitioned slice is persisted so the
count pass and the rank pass read the same materialization).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.functions.text import max_id_suffix


def high_water_mark(existing: DataFrame, id_col: str, prefix: str) -> int:
    """Current max numeric suffix over `prefix`-ids (0 if none)."""
    row = existing.agg(max_id_suffix(existing, id_col, prefix).alias("hw")).collect()[0]
    return int(row["hw"] or 0)


def global_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based dense global `row_number` under `order_by` with no
    single-partition shuffle.

    `order_by` must be a unique total order for ranks to be stable across
    retries (equal keys straddling a range boundary rank deterministically
    for a given run, but boundary placement is data-dependent).
    The only global window runs over the per-partition counts — at most
    `num_partitions` rows.
    """
    spark = df.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # persist is REQUIRED, not an optimization: range boundaries are sampled
    # with a seed derived from the RDD id, so two materializations of the
    # same lineage can bucket rows differently — the counts pass and the
    # rank pass must read the one materialization (disk-backed, linear,
    # no worse than the sort shuffle itself).  It cannot unpersist inline
    # (the returned plan is lazy and still reads it), so it is TRACKED:
    # callers free it with runtime.release_caches() after consuming the
    # result, or its blocks stay cached for the life of the session.
    from dataintegration_ecomprovider_spark import runtime

    ranged = runtime.track(
        df.repartitionByRange(n_parts, *order_by)
        .withColumn("_gr_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    w_off = (
        Window.orderBy("_gr_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("_gr_pid")
        .agg(F.count(F.lit(1)).alias("_gr_n"))
        .select(
            "_gr_pid",
            F.coalesce(F.sum("_gr_n").over(w_off), F.lit(0)).alias("_gr_off"),
        )
    )
    w_local = Window.partitionBy("_gr_pid").orderBy(*order_by)
    return (
        ranged.join(F.broadcast(offsets), "_gr_pid")
        .withColumn(rank_col, F.col("_gr_off") + F.row_number().over(w_local))
        .drop("_gr_pid", "_gr_off")
    )


def assign_surrogate_ids(
    df: DataFrame,
    id_col: str,
    prefix: str,
    order_by: Sequence[Column],
    offset: int,
    needs_id: Column | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Fill missing ids with `prefix{offset + rank}` under a total order.

    `needs_id` defaults to "id null or empty" (the reference treats both as
    missing, src/EcomDestinationWriter.cs:1585-1590).
    """
    if needs_id is None:
        needs_id = F.col(id_col).isNull() | (F.length(F.trim(F.col(id_col))) == 0)
    need = df.filter(needs_id)
    keep = df.filter(~needs_id)
    allocated = (
        global_rank(need, order_by, "_sid_rank", num_partitions)
        .withColumn(
            id_col,
            F.concat(
                F.lit(prefix), (F.lit(offset) + F.col("_sid_rank")).cast("string")
            ),
        )
        .drop("_sid_rank")
    )
    return keep.unionByName(allocated.select(*df.columns))
