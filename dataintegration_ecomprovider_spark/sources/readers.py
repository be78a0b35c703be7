"""Source connectors — the engine's read surface (SURVEY §2.1).

The reference reads one thing: a SQL Server database, through generated
SELECT statements with projection/filter pushdown (LoadReaderFromDatabase,
src/EcomSourceReader.cs:151-226).  The Spark engine generalizes that to a
small `Source` hierarchy: every source yields a DataFrame and pushes
projection + predicates down to the format's native scan.

- FileSource(path, fmt) / CsvSource: file scans; Catalyst pushes
  filters into the format reader (parquet row-group pruning, csv/json
  column pruning).
- JdbcSource: the direct analog of the reference — `spark.read.jdbc` with
  the projected-SELECT pushdown (`query` or `dbtable` + column selection)
  and RANGE-PARTITIONED parallel reads (partitionColumn/lower/upper/
  numPartitions).  The reference reads single-threaded (one ExecuteReader);
  at 100 TB the partitioned read is the difference between one connection
  and N executors streaming ranges concurrently.

No live database exists in this environment, so JdbcSource.load is
exercised up to option construction (`reader_options`) in tests; the
file-based sources are tested end-to-end.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FileSource:
    path: str
    fmt: str = "parquet"
    schema: str | None = None            # DDL string; required for csv/json streams
    options: Mapping[str, str] = field(default_factory=dict)
    columns: Sequence[str] | None = None  # P1 projection pushdown
    predicate: str | None = None          # P2 predicate pushdown (SQL expr)

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.format(self.fmt).options(**dict(self.options))
        if self.schema:
            reader = reader.schema(self.schema)
        df = reader.load(self.path)
        if self.predicate:
            df = df.filter(F.expr(self.predicate))
        if self.columns:
            df = df.select(*self.columns)
        return df


def CsvSource(path: str, **kw) -> FileSource:
    kw.setdefault("options", {"header": "true"})
    return FileSource(path, "csv", **kw)


@dataclass(frozen=True)
class JdbcSource:
    """Partitioned JDBC scan with the reference's projected-SELECT pushdown.

    `columns`/`predicate` compose into a pushed-down query exactly like the
    reference's `select * from (select <mapped cols> from <tables>) as
    result where <conditionals>` (src/EcomSourceReader.cs:161-163,
    :185-205) — the database sees only the pruned projection.
    `scope_filters` are the reference's language/shop scoping clauses
    (P3/P4: sqlLanguageWhere/sqlShopWhere, src/EcomSourceReader.cs:165-183)
    — each AND-composed after the mapping conditionals exactly as the
    reference appends them (:192-199, :207-217).  `partition_column` must
    be numeric/date; ranges split [lower_bound, upper_bound] into
    `num_partitions` concurrent reads.
    """

    url: str
    table: str
    columns: Sequence[str] | None = None
    predicate: str | None = None
    scope_filters: Sequence[str] = ()
    partition_column: str | None = None
    lower_bound: int | None = None
    upper_bound: int | None = None
    num_partitions: int = 8
    fetch_size: int = 10_000
    properties: Mapping[str, str] = field(default_factory=dict)

    def pushdown_query(self) -> str:
        cols = ", ".join(self.columns) if self.columns else "*"
        clauses = ([self.predicate] if self.predicate else []) + list(self.scope_filters)
        where = f" WHERE {' AND '.join(clauses)}" if clauses else ""
        return f"(SELECT {cols} FROM {self.table}{where}) AS pushed"

    def reader_options(self) -> dict[str, str]:
        opts: dict[str, str] = {
            "url": self.url,
            "dbtable": self.pushdown_query(),
            "fetchsize": str(self.fetch_size),
        }
        if self.partition_column is not None:
            if self.lower_bound is None or self.upper_bound is None:
                raise ValueError("partitioned JDBC read needs lower_bound/upper_bound")
            opts.update(
                partitionColumn=self.partition_column,
                lowerBound=str(self.lower_bound),
                upperBound=str(self.upper_bound),
                numPartitions=str(self.num_partitions),
            )
        opts.update(self.properties)
        return opts

    def load(self, spark: SparkSession) -> DataFrame:
        return spark.read.format("jdbc").options(**self.reader_options()).load()
