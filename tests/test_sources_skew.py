"""Sources package: file round-trips and JDBC option construction."""

from __future__ import annotations

import pytest

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.sources.readers import (
    CsvSource, JdbcSource, JsonSource, ParquetSource,
)
from tests.conftest import SF_DIR


def test_file_sources_round_trip(spark, tmp_path):
    region = Catalog(spark, SF_DIR).table("region")
    for fmt, src_cls in [("parquet", ParquetSource), ("csv", CsvSource), ("json", JsonSource)]:
        path = str(tmp_path / fmt)
        w = region.write.format(fmt)
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(path)
        loaded = src_cls(path).load(spark)
        assert loaded.count() == region.count()

    # projection + predicate pushdown reach the scan
    pruned = ParquetSource(
        str(tmp_path / "parquet"), columns=["r_name"], predicate="r_regionkey < 3"
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


def test_orc_and_xml_sources_round_trip(spark, tmp_path):
    """OrcSource (columnar alternate) and XmlSource (Spark 4 native xml —
    the DataIntegration suite's XML-feed provider role) load, project, and
    filter like every FileSource."""
    from dataintegration_ecomprovider_spark.sources.readers import OrcSource, XmlSource

    region = Catalog(spark, SF_DIR).table("region")

    orc_path = str(tmp_path / "orc")
    region.write.format("orc").save(orc_path)
    assert OrcSource(orc_path).load(spark).count() == region.count()

    xml_path = str(tmp_path / "xml")
    region.selectExpr(
        "r_regionkey", "r_name"
    ).coalesce(1).write.format("xml").option("rowTag", "region").save(xml_path)
    loaded = XmlSource(
        xml_path, row_tag="region",
        columns=["r_name"], predicate="r_regionkey < 3",
    ).load(spark)
    assert loaded.columns == ["r_name"]
    assert loaded.count() == 3
