"""Sources package: file round-trips and JDBC option construction."""

from __future__ import annotations

import pytest

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.sources.readers import (
    CsvSource, FileSource, JdbcSource,
)
from tests.conftest import SF_DIR


def test_file_sources_round_trip(spark, tmp_path):
    region = Catalog(spark, SF_DIR).table("region")
    for fmt in ("parquet", "csv", "json"):
        path = str(tmp_path / fmt)
        w = region.write.format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        src = CsvSource(path) if fmt == "csv" else FileSource(path, fmt)
        loaded = src.load(spark)
        assert loaded.count() == region.count()

    # projection + predicate pushdown reach the scan
    pruned = FileSource(
        str(tmp_path / "parquet"), "parquet",
        columns=["r_name"], predicate="r_regionkey < 3",
    ).load(spark)
    assert pruned.columns == ["r_name"]
    assert pruned.count() == 3


def test_jdbc_source_options():
    src = JdbcSource(
        url="jdbc:sqlserver://host;database=shop",
        table="EcomProducts",
        columns=["ProductID", "ProductName"],
        predicate="ProductLanguageID = 'LANG1'",
        partition_column="ProductAutoID",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=32,
    )
    opts = src.reader_options()
    # the pushed query is the reference's projected SELECT shape
    assert opts["dbtable"] == (
        "(SELECT ProductID, ProductName FROM EcomProducts"
        " WHERE ProductLanguageID = 'LANG1') AS pushed"
    )
    assert opts["numPartitions"] == "32"
    assert opts["partitionColumn"] == "ProductAutoID"

    with pytest.raises(ValueError):
        JdbcSource(url="u", table="t", partition_column="c").reader_options()
