"""Table catalog: schema discovery + engine-side key metadata.

The reference discovers the live DB schema, filters it to a table
whitelist, marks primary keys, and augments tables with virtual columns
(GetSqlSourceSchema / GetOriginalSourceSchema, reference
src/EcomProvider.cs:313-386).  Spark has schema inference but no
primary-key concept, so the engine keeps a `TableSpec` registry: per table,
its key columns (drives upsert matching, dedup, delete-missing), and an
optional set of derived "virtual" columns (the reference's comma-quoted
list columns, src/EcomProvider.cs:346-381) declared as expressions.

Scale note: schema discovery reads one parquet footer driver-side — no
Spark job, no data scan.
Tables are loaded lazily and never cached here; callers decide persistence.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TableSpec:
    """Engine metadata for one table (reference: Schema/Table/Column with
    IsPrimaryKey flags, src/EcomProvider.cs:393-406)."""

    name: str
    key_columns: tuple[str, ...]
    # columns that exist only on the import/export surface, not persisted
    # (reference "virtual columns", src/EcomProvider.cs:346-351)
    virtual_columns: tuple[str, ...] = ()


# The driver-generated TPC-H-ish fixture tables (TESTDATA.md), playing the
# roles FIXTURES.md assigns them (part=EcomProducts, nation/region=group
# hierarchy, customer=AccessUser, lineitem=prices/stock detail, events=EAV,
# documents/embeddings=LLM-pipeline tables).
FIXTURE_TABLES: dict[str, TableSpec] = {
    "region": TableSpec("region", ("r_regionkey",)),
    "nation": TableSpec("nation", ("n_nationkey",)),
    "customer": TableSpec("customer", ("c_custkey",)),
    "supplier": TableSpec("supplier", ("s_suppkey",)),
    "part": TableSpec("part", ("p_partkey",)),
    "orders": TableSpec("orders", ("o_orderkey",)),
    "lineitem": TableSpec("lineitem", ("l_orderkey", "l_linenumber")),
    "events": TableSpec("events", ("event_id",)),
    "documents": TableSpec("documents", ("doc_id",)),
    "embeddings": TableSpec("embeddings", ("vec_id",)),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Catalog:
    """Loads fixture tables from a scale-factor directory of parquet files.

    Mirrors the reference's whitelist-filtered schema discovery
    (GetSqlSchemas, src/EcomProvider.cs:313-335): only registered tables
    are exposed.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR,
                 specs: dict[str, TableSpec] | None = None) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.specs = dict(specs or FIXTURE_TABLES)
        # runtime-settable so they also take effect under a driver-provided
        # session (not just ours from session.get_spark): nanos parquet
        # reads, and UTC so timestamp formatting matches the DuckDB oracle
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    def spec(self, name: str) -> TableSpec:
        return self.specs[name]

    def table(self, name: str) -> DataFrame:
        if name not in self.specs:
            raise KeyError(f"table {name!r} not in catalog whitelist")
        from dataintegration_ecomprovider_spark.plans import publish

        path = os.path.join(self.sf_dir, f"{name}.parquet")
        # an explicit schema from the driver-side footer spares Spark its
        # one-task schema-inference job per read; inference stays the
        # fallback wherever the footer cannot answer exactly
        schema = publish._footer_spark_schema(path)
        reader = self.spark.read
        if schema is not None and len(schema.fields):
            reader = reader.schema(schema)
        df = reader.parquet(path)
        if name == "events":
            # events.ts varies across driver-generated fixture rounds:
            # TIMESTAMP(NANOS) (Spark reads as long under the legacy conf)
            # or TIMESTAMP(MICROS) without UTC adjustment (Spark reads as
            # TIMESTAMP_NTZ).  Surface a proper microsecond TimestampType
            # either way so downstream unix_micros/window math is uniform.
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                # integer DIV, not double division: epoch-nanos ~1.7e18
                # exceed double's 2^53 exact range (ulp ≈ 256ns), so
                # (ts/1000).cast("long") can land 1µs off near boundaries
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                # session timezone is pinned UTC above, so this cast maps
                # wall time → the same instant, exactly and reversibly
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in FIXTURE_TABLES:
            return self.table(name)
        raise AttributeError(name)
