"""SparkSession factory tuned for this engine.

Local testing runs on local[N] (N from SPARK_GRAFT_CPUS, default 32); the
same config block is what we would ship to a 1000-executor cluster, minus
the master URL:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting) —
  at 100 TB the static shuffle-partition number is always wrong, AQE fixes
  it per-stage.
- Arrow enabled for the few pandas_udf operators (llm/*).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- Broadcast threshold raised to 32 MB (from the 10 MB default) so
  medium dimensions auto-broadcast; every known-small dimension join in
  this codebase also hints `F.broadcast` explicitly, so plans stay
  broadcast-hash-join even if statistics are missing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dataintegration-ecomprovider-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # UI off in production/bench runs; SPARK_GRAFT_UI=true lets the
        # scripts/ diagnostics read per-job callsites from the REST API.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # preferSortMergeJoin stays at Spark's default: false (shuffled-hash
        # joins) was tried and reverted — an initial 8-query A/B showed
        # −9%, but four alternating re-runs and a suite-level bench could
        # not reproduce it (the original delta was window drift on this
        # shared VM; OPTIMIZATION_r13.md wave 4 records all the numbers).
        # Spark's default (sort-merge preference) stays: it is also the
        # safer choice at 100 TB, where an SHJ build-side partition that
        # misses memory is an OOM instead of a graceful sort-merge spill.
        # Re-testable via SPARK_GRAFT_PREFER_SMJ=false.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"),
        )
        # INT64 micros instead of Spark's legacy INT96: INT96 carries NO
        # parquet column statistics, so timestamp predicates could never
        # file-skip and metadata_aggregate could never answer them; micros
        # is also what every other engine (DuckDB, Trino, Arrow) expects
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    return builder.getOrCreate()
