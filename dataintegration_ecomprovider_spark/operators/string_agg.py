"""Order-preserving grouped string aggregation (reference A1/A2).

The reference emits, per parent row, a correlated subquery
``STUFF((SELECT ',"'+X+'"' ... ORDER BY ... FOR XML PATH('')),1,1,'')`` —
8 instances building the Groups / Shops / ParentGroups / VariantGroups /
RelatedProducts list columns (src/EcomSourceReader.cs:336-352, :393-446),
sometimes over DISTINCT child values (src/EcomSourceReader.cs:434-435).

Spark-first shape: NEVER correlated per-row — pre-aggregate the child table
once with collect_list over a (sort_key, value) struct, sort_array for a
deterministic order, then hash-join the aggregate back to the parent.
At 100 TB this is one shuffle on the parent key with map-side partial
aggregation; the correlated form would be O(parents) subquery executions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def collect_ordered(value: Column, order_by: Sequence[Column], distinct: bool = False) -> Column:
    """Aggregate expression: array of `value` ordered by `order_by`.

    Deterministic regardless of shuffle order because the sort happens
    after collection (sort_array over structs sorts lexicographically on
    (order keys..., value)).
    """
    struct = F.struct(*order_by, value.alias("__v"))
    arr = F.sort_array(F.collect_list(struct))
    out = F.transform(arr, lambda s: s["__v"])
    if distinct:
        out = F.array_distinct(out)
    return out
