"""Catalog reads: the schema handed to Spark from the driver-side parquet
footer must be exactly what Spark's own inference would produce, and the
read must launch no Spark job."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from dataintegration_ecomprovider_spark.catalog import Catalog, TableSpec
from dataintegration_ecomprovider_spark.plans import publish
from tests.conftest import SF_DIR, TABLES


def test_table_schema_equals_inferred_schema(spark, monkeypatch):
    cat = Catalog(spark, SF_DIR)
    got = {t: cat.table(t).schema for t in TABLES}
    footers = [publish._footer_spark_schema(os.path.join(SF_DIR, f"{t}.parquet"))
               for t in TABLES]
    assert any(s is not None for s in footers)  # the explicit path ran
    monkeypatch.setattr(publish, "_footer_spark_schema", lambda path: None)
    for t in TABLES:
        assert got[t] == cat.table(t).schema, t
        if t != "events":  # events alone is normalized after the read
            path = os.path.join(SF_DIR, f"{t}.parquet")
            assert got[t] == spark.read.parquet(path).schema, t


def test_table_read_launches_no_job(spark):
    cat = Catalog(spark, SF_DIR)
    sc = spark.sparkContext
    sc.setJobGroup("catalog-read", "catalog read probe")
    try:
        for t in TABLES:
            cat.table(t)
        jobs = sc.statusTracker().getJobIdsForGroup("catalog-read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_nanosecond_timestamps_fall_back_to_inference(spark, tmp_path):
    """Under the catalog's nanosAsLong conf Spark reads TIMESTAMP(NANOS) as
    bigint, which the arrow type mapping cannot say: no footer schema."""
    path = str(tmp_path / "ev.parquet")
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array([10**18, 2 * 10**18], pa.timestamp("ns"))}),
        path, version="2.6",
    )
    assert publish._footer_spark_schema(path) is None
    cat = Catalog(spark, str(tmp_path), specs={"ev": TableSpec("ev", ("id",))})
    df = cat.table("ev")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert df.schema == spark.read.parquet(path).schema
