"""Query registry: every SURVEY §2 operator gets a named (spark_fn, oracle)
pair here, merged into __spark_entry__.queries()/oracle_sql().

A QueryDef's `oracle` is DuckDB SQL equivalent to the Spark plan (None for
genuinely non-SQL-expressible operators → the driver records a rows-only
check).  Column aliases MUST match between the two (the driver sorts columns
by name before hashing)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    # retired=True keeps the query runnable (tests, scale probes) but off
    # the driver-facing surface: every retired entry is a hash-seeded
    # fast path whose `_portable` twin carries the SAME algorithm under
    # an oracle-checkable hash family — grading both wasted rotation
    # slots on rows-only checks the twin already covers with a full
    # value-hash MATCH (tests/test_retired_fastpaths.py pins the
    # twin contract: same schema, fast path still runs)
    retired: bool = False
    # folded_into="<name>" removes a NEAR-DUPLICATE surface from the
    # driver-facing registry (the registry is
    # hard-capped at 150 = 3×50 driver rotation slots, so new operators
    # displace consolidated ones).  Unlike retired fast paths, a folded
    # entry KEEPS its oracle — tests/test_retired_fastpaths.py value-
    # checks it against DuckDB every run, so the grade is not lost, it
    # just stops consuming a rotation slot its covering entry (the
    # richer superset lifecycle named here) already pays for.
    folded_into: str | None = None


def all_queries(include_retired: bool = False) -> dict[str, QueryDef]:
    from dataintegration_ecomprovider_spark.plans import (
        read_queries, write_queries, llm_queries, stream_queries, temporal_queries,
    )

    out: dict[str, QueryDef] = {}
    for mod in (read_queries, write_queries, llm_queries, stream_queries, temporal_queries):
        overlap = set(out) & set(mod.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    if not include_retired:
        out = {
            n: qd for n, qd in out.items()
            if not qd.retired and qd.folded_into is None
        }
    return out
