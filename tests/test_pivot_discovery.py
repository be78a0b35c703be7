"""A4 pivot-value discovery: the distinct-scan producing the dynamic
column list + the reference's ProductCategory|cat|field naming scheme
(src/EcomProvider.cs:352-364, src/EcomSourceReader.cs:267-279)."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.operators.pivot import (
    category_field_columns,
    discover_pivot_values,
    pivot_eav,
)


def test_discovery_sorted_distinct_nonnull(spark):
    eav = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, "b"), (4, None), (5, "c")],
        "id int, k string",
    )
    assert discover_pivot_values(eav, F.col("k")) == ["a", "b", "c"]


def test_category_field_naming_scheme(spark):
    eav = spark.createDataFrame(
        [("P1", "CAT1", "Color", "red"), ("P2", "CAT1", "Size", "L"),
         ("P3", "CAT2", "Color", "blue"), ("P4", "CAT1", "Color", "green")],
        "product_id string, cat string, field string, val string",
    )
    cols = category_field_columns(eav, "cat", "field")
    assert cols == [
        "ProductCategory|CAT1|Color",
        "ProductCategory|CAT1|Size",
        "ProductCategory|CAT2|Color",
    ]
    # discovered columns feed pivot_eav directly (the reference's
    # PIVOT ... IN (<discovered>) shape)
    wide = pivot_eav(
        eav.withColumn("k", F.concat_ws("|", F.lit("ProductCategory"), "cat", "field")),
        ["product_id"], "k", cols, F.max("val"),
    )
    assert set(wide.columns) == {"product_id", *cols}


def test_discovery_cardinality_guard(spark):
    big = spark.range(50).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="more than 10 distinct"):
        discover_pivot_values(big, F.col("k"), max_values=10)


def test_discovery_memoized_per_cache_key(spark):
    """With a cache_key the distinct-scan runs once per key: a second build
    returns the memoized list without touching the (changed) source, and a
    different key re-scans.  PIVOT_VALUE_CACHE.clear() resets."""
    from dataintegration_ecomprovider_spark.operators import pivot

    pivot.PIVOT_VALUE_CACHE.clear()
    try:
        eav1 = spark.createDataFrame([("a",), ("b",)], "k string")
        eav2 = spark.createDataFrame([("z",)], "k string")
        key = ("test", "k")
        assert discover_pivot_values(eav1, F.col("k"), cache_key=key) == ["a", "b"]
        # same key: memo wins even though the source frame differs
        assert discover_pivot_values(eav2, F.col("k"), cache_key=key) == ["a", "b"]
        # different key: real scan
        assert discover_pivot_values(eav2, F.col("k"), cache_key=("test", "k2")) == ["z"]
        # no key: never cached
        assert discover_pivot_values(eav2, F.col("k")) == ["z"]
        pivot.PIVOT_VALUE_CACHE.clear()
        assert discover_pivot_values(eav2, F.col("k"), cache_key=key) == ["z"]
    finally:
        pivot.PIVOT_VALUE_CACHE.clear()


class _CountingFrame:
    """Stands in for the discovery source: every distinct-scan chain ends
    in collect(), which counts the scan, holds it open for `delay`
    seconds and answers `values`."""

    def __init__(self, values, delay: float = 0.0) -> None:
        self.values = values
        self.delay = delay
        self.scans = 0
        self._lock = threading.Lock()

    def _chain(self, *_args, **_kwargs):
        return self

    select = filter = distinct = orderBy = limit = _chain

    def collect(self):
        with self._lock:
            self.scans += 1
        time.sleep(self.delay)
        return [Row(v=v) for v in self.values]


def test_discovery_cache_is_bounded(spark):
    """A long-lived driver discovering over ever new keys keeps at most
    the cache's cap of them: the least recently used key re-scans."""
    from dataintegration_ecomprovider_spark.operators import pivot

    pivot.PIVOT_VALUE_CACHE.clear()
    try:
        src = _CountingFrame(["a"])
        n_keys = 64  # past the cap
        for i in range(n_keys):
            discover_pivot_values(src, F.col("k"), cache_key=("dir", i))
        assert src.scans == n_keys
        discover_pivot_values(src, F.col("k"), cache_key=("dir", n_keys - 1))
        assert src.scans == n_keys  # the newest key still hits
        discover_pivot_values(src, F.col("k"), cache_key=("dir", 0))
        assert src.scans == n_keys + 1  # the oldest was evicted
        assert len(pivot.PIVOT_VALUE_CACHE) <= pivot.PIVOT_VALUE_CACHE.cap
    finally:
        pivot.PIVOT_VALUE_CACHE.clear()


def test_concurrent_discovery_of_one_key_scans_once(spark):
    """Four pivot builds asking for one key at once share one
    distinct-scan and each get their own copy of its values."""
    from dataintegration_ecomprovider_spark import runtime
    from dataintegration_ecomprovider_spark.operators import pivot

    pivot.PIVOT_VALUE_CACHE.clear()
    try:
        src = _CountingFrame(["a", "b"], delay=0.3)
        got = runtime.map_concurrently(
            lambda _: discover_pivot_values(
                src, F.col("k"), cache_key=("dir", "k")
            ),
            range(4),
        )
        assert src.scans == 1
        assert got == [["a", "b"]] * 4
        assert len({id(values) for values in got}) == 4
    finally:
        pivot.PIVOT_VALUE_CACHE.clear()
