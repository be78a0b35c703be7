"""Cache lifecycle — deterministic, scoped release of persisted intermediates.

Several operators MUST keep a materialization alive while the lazily
returned DataFrame is still consumable:

- ``operators/surrogate.py::global_rank`` persists its range-partitioned
  slice because range boundaries are sampled per materialization — the
  counts pass and the rank pass must read the same one (correctness, not
  an optimization);
- ``llm/dedup.py::minhash_candidates`` persists the (small) candidate-pair
  set consumed by several downstream joins;
- ``llm/cluster.py::connected_components`` localCheckpoints per-round
  label tables to cut lineage (per-round blocks are freed in-loop; the
  FINAL label table backs the returned DataFrame and is tracked here);
- ``plans/pipeline.py::run_job`` localCheckpoints each mapping's shaped
  staging once (the reference's temp-table bulk load); the returned
  destination states read those checkpoints, which cannot recompute once
  freed — consume (publish, collect, write) the states BEFORE releasing
  the scope they were created in or calling ``release_caches``.

None of these can unpersist inline: the query functions return LAZY
DataFrames and the action happens later, at the caller.  A long-lived
session running many operators would otherwise accumulate cached blocks
on its executors.  This module is the scope handle: every
persist/checkpoint registers in the CURRENT scope, and callers release a
scope once they have consumed its results.

Two usage levels:

    # serial driver contract (one query at a time) — module-level scope:
    df = some_query(spark, sf_dir)
    df.collect()                       # or toPandas() / write
    runtime.release_caches(spark)      # everything the library tracked

    # library embedding (concurrent jobs in one driver) — scoped:
    with runtime.job_scope() as sc_a:
        out_a = job_a(...)             # persists register into sc_a
    with runtime.job_scope() as sc_b:
        out_b = job_b(...)
    out_a.collect(); sc_a.release(spark)   # frees ONLY job A's caches
    out_b.collect(); sc_b.release(spark)

``release_caches`` releases the current scope and the module scope.  It
frees only storage the library tracked: a whole-registry sweep would
also unpersist caches the EMBEDDING application created outside this
library, so that sweep is opt-in via ``sweep_all=True``.  Tracked-only
release suffices because every persist/checkpoint the library creates
registers its DataFrame or concrete RDD id at creation
(``local_checkpoint`` returns the id, read straight off the checkpointed
plan — no registry diffing).

Module-level memos (parquet plans, stats sidecars, manifest JSON, span
feeds, merge-on-read reads, pivot values) are ``KeyedCache`` instances
with two lifetimes.  Two caches own Spark storage and are drained by
``release_caches``: the span feeds (``materialize.SPAN_FEED_CACHE``,
one persisted change feed per version span) and the merge-on-read reads
(``publish.MOR_READS``, one lazily persisted merged state per table at
its manifest entry, which every whole-table read at that entry scans).
Neither needs ``release_caches`` to stay bounded: a newer version of a
slot supersedes and unpersists the older value, LRU keeps each under its
cap (span count; on-disk bytes for the reads), and ``invalidate_path``
drops values once vacuum/compact delete files beneath them — which
matters because ``stream_into_store`` never calls ``release_caches``
between micro-batches.  The rest hold driver-side plans and parsed
documents that stay valid across jobs and leave the same three ways but
never at ``release_caches``: a driver that ends each import job there
(bench.py and the benchmark's import loop do) would otherwise re-list
every data dir and re-parse every manifest on the next job.

The reference's analog is temp-table cleanup on Close
(src/EcomDestinationWriter.cs:4167-4182): staging state lives for the job,
then is dropped deterministically.
"""

from __future__ import annotations

import collections
import concurrent.futures
import contextlib
import contextvars
import os
import threading
import weakref
from collections.abc import Callable, Hashable, Iterable, Iterator
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession


class CacheScope:
    """One job run's persisted intermediates: DataFrames registered via
    track() plus concrete RDD ids (checkpoint storage) via track_rdd_ids().
    Scopes release independently — two interleaved jobs in one driver
    never free each other's caches."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []
        self._rdd_ids: set[int] = set()

    def track(self, df: DataFrame) -> DataFrame:
        self._dfs.append(df)
        return df

    def track_rdd_ids(self, ids: Iterable[int]) -> None:
        self._rdd_ids.update(int(i) for i in ids)

    def release(self, spark: SparkSession | None = None, blocking: bool = False) -> None:
        """Unpersist everything this scope tracked.  Persist-backed plans
        recompute on re-use; checkpoint-backed plans must not be
        re-collected — release only after the results are consumed."""
        while self._dfs:
            df = self._dfs.pop()
            try:
                df.unpersist(blocking)
            except Exception:
                pass  # session may be stopped; nothing to free then
        if spark is not None and self._rdd_ids:
            try:
                unpersist_rdd_ids(spark, self._rdd_ids, blocking)
            except Exception:
                pass
        self._rdd_ids.clear()


_global_scope = CacheScope()
_current_scope: ContextVar[CacheScope] = ContextVar("cache_scope", default=_global_scope)


def current_scope() -> CacheScope:
    return _current_scope.get()


@contextlib.contextmanager
def job_scope() -> Iterator[CacheScope]:
    """Make a fresh CacheScope current for the duration of the block:
    every track()/track_rdd_ids() inside registers there instead of the
    module scope.  The scope is NOT auto-released on exit — the returned
    DataFrames are lazy; call scope.release(spark) after consuming them."""
    scope = CacheScope()
    token = _current_scope.set(scope)
    try:
        yield scope
    finally:
        _current_scope.reset(token)


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame in the current scope for later
    release."""
    return current_scope().track(df)


def track_rdd_ids(ids: Iterable[int]) -> None:
    """Register concrete persisted-RDD ids (checkpoint storage) in the
    current scope for later release."""
    current_scope().track_rdd_ids(ids)


# --- driver-side job parallelism ---------------------------------------------
#
# Independent Spark jobs (one staged table per write, one declared view per
# maintainer) overlap when submitted from several driver threads: Spark's
# scheduler time-slices their tasks, and one job's driver-side planning
# runs while another's tasks execute.  A fresh thread starts with an EMPTY
# contextvars context, so a task that tracks a persist outside its own
# job_scope would register in the module scope and never be released;
# every task here runs in a copy of the submitter's context instead.

POOL_MAX_WORKERS = 8


class _ContextPool(concurrent.futures.ThreadPoolExecutor):
    def submit(self, fn, /, *args, **kwargs):
        # one copy per task: a Context cannot be entered by two threads
        # at once, and each task's own scope changes stay its own
        return super().submit(contextvars.copy_context().run, fn, *args, **kwargs)


def context_pool(n_tasks: int) -> concurrent.futures.ThreadPoolExecutor:
    """A thread pool of min(POOL_MAX_WORKERS, n_tasks) workers whose
    submit() runs each task in a copy of the caller's contextvars
    context (its current CacheScope included)."""
    return _ContextPool(max_workers=max(1, min(POOL_MAX_WORKERS, n_tasks)))


def map_concurrently(fn: Callable, items: Iterable) -> list:
    """[fn(x) for x in items], the calls run concurrently on a
    context_pool; results keep the items' order and the first failure
    (in that order) raises once every call has finished.  A single item
    runs inline."""
    items = list(items)
    if len(items) <= 1:
        return [fn(x) for x in items]
    with context_pool(len(items)) as pool:
        futs = [pool.submit(fn, x) for x in items]
        return [f.result() for f in futs]


def checkpoint_rdd_id(df: DataFrame) -> int | None:
    """The persisted RDD id backing a localCheckpoint()ed DataFrame, read
    directly off its LogicalRDD plan — explicit per-creation tracking, not
    a registry diff (a diff attributes any concurrently-persisted RDD from
    another thread to the wrong owner).  Returns None if the plan isn't a
    checkpoint-backed scan (caller falls back to registry bookkeeping)."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint(eager=True)`` plus the EXPLICIT id of the
    persisted RDD backing it (checkpoint_rdd_id), so the caller frees
    exactly its own storage — by unpersist_rdd_ids, or by handing the ids
    to track_rdd_ids for its scope.  Not a registry diff, which would
    attribute an RDD another thread persisted concurrently to this caller
    and free it out from under its owner.  spark.catalog.clearCache()
    does not touch checkpoint storage."""
    out = df.localCheckpoint(eager=True)
    rid = checkpoint_rdd_id(out)
    return out, ({rid} if rid is not None else set())


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of all currently persisted RDDs (includes localCheckpoint
    storage, which spark.catalog.clearCache() does NOT touch)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdd_ids(
    spark: SparkSession, ids: Iterable[int], blocking: bool = False
) -> None:
    """Free the storage of specific persisted RDDs by id (the JavaRDD
    handles from getPersistentRDDs are the public route to blocks that
    belong to checkpointed DataFrames)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        handle = jmap.get(rid)
        if handle is not None:
            handle.unpersist(blocking)


# --- keyed caches ------------------------------------------------------------


class KeyedCache:
    """A bounded, thread-safe memo of ``slot -> (version, value)``.

    ``get(slot, version, compute)`` returns the stored value when the
    slot holds an EQUAL version, else stores ``compute()``'s result,
    superseding the slot's other version.  A version is whatever shows a
    value is still right: a file's stat signature, a span's manifest
    entries, or a ``weakref.ref`` to the session that built a plan (a
    weakref equals another only while both referents live and are one
    object, so a collected session's recycled ``id()`` never matches).
    Misses are single-flight: callers of one (slot, version) in flight
    wait for its one result or re-raise its one exception, and a failed
    flight stores nothing.  ``compute`` runs outside the lock.  Past
    ``cap`` the least recently used slot is evicted; ``cap`` counts
    slots, or with ``weigh`` the summed ``weigh(value)`` of the stored
    values (bytes, say).  ``path(slot)`` names the directory a value was
    built over, for ``invalidate_path``.
    ``release(value)`` frees storage a value owns, exactly once, on
    evict, supersede, invalidate and ``clear``; ``release_caches``
    drains the caches that have one."""

    def __init__(
        self,
        cap: int,
        path: Callable[[Hashable], str] | None = None,
        release: Callable[[object], None] | None = None,
        weigh: Callable[[object], int] | None = None,
    ) -> None:
        self.cap = cap
        self._path = path
        self._release = release
        self._weigh = weigh or (lambda value: 1)
        self._weight = 0
        self.owns_storage = release is not None
        self._lock = threading.Lock()
        # slot -> (version, value, realpath(path(slot)) or None), least
        # recently used first
        self._entries: collections.OrderedDict = collections.OrderedDict()
        self._flights: dict[tuple, concurrent.futures.Future] = {}
        _caches.add(self)

    def get(self, slot: Hashable, version: Hashable, compute: Callable[[], object]):
        flight_key = (slot, version)
        with self._lock:
            hit = self._entries.get(slot)
            if hit is not None and hit[0] == version:
                self._entries.move_to_end(slot)
                return hit[1]
            flight = self._flights.get(flight_key)
            owner = flight is None
            if owner:
                flight = self._flights[flight_key] = concurrent.futures.Future()
        if not owner:
            return flight.result()
        try:
            value = compute()
            path = os.path.realpath(self._path(slot)) if self._path else None
        except BaseException as e:
            with self._lock:
                del self._flights[flight_key]
            flight.set_exception(e)
            raise
        with self._lock:
            del self._flights[flight_key]
            dropped = [self._pop(slot)]
            self._entries[slot] = (version, value, path)
            self._weight += self._weigh(value)
            while self._weight > self.cap:
                _, lru = self._entries.popitem(last=False)
                self._weight -= self._weigh(lru[1])
                dropped.append(lru)
        flight.set_result(value)
        self._release_all(dropped)
        return value

    def invalidate_path(self, real_path: str) -> None:
        """Drop every slot whose path is ``real_path``, lies under it or
        contains it, by whole components: dropping /s spares /s2."""
        with self._lock:
            dropped = [
                self._pop(slot)
                for slot, (_, _, p) in list(self._entries.items())
                if p and os.path.commonpath([p, real_path]) in (p, real_path)
            ]
        self._release_all(dropped)

    def discard(self, slot: Hashable) -> None:
        """Drop ``slot`` whatever version it holds."""
        with self._lock:
            dropped = [self._pop(slot)]
        self._release_all(dropped)

    def clear(self) -> None:
        with self._lock:
            dropped = list(self._entries.values())
            self._entries.clear()
            self._weight = 0
        self._release_all(dropped)

    def _pop(self, slot: Hashable):
        """Remove ``slot`` (caller holds the lock); its entry, or None."""
        entry = self._entries.pop(slot, None)
        if entry is not None:
            self._weight -= self._weigh(entry[1])
        return entry

    def _release_all(self, dropped) -> None:
        for entry in dropped:
            if entry is not None and self._release is not None:
                try:
                    self._release(entry[1])
                except Exception:
                    pass  # session may be stopped; nothing to free then

    def __len__(self) -> int:
        return len(self._entries)

    def keys(self) -> list[tuple]:
        """(slot, version) pairs, least recently used first."""
        with self._lock:
            return [(slot, e[0]) for slot, e in self._entries.items()]

    def in_flight(self) -> int:
        with self._lock:
            return len(self._flights)


_caches: "weakref.WeakSet[KeyedCache]" = weakref.WeakSet()


def invalidate_path(path: str) -> None:
    """Vacuum/compact deleted ``path``: drop every cached value built over
    it or over a directory containing it, so a later read of a same-named
    path can never resolve a dead plan or feed."""
    real = os.path.realpath(path)
    for cache in list(_caches):
        cache.invalidate_path(real)


def release_caches(
    spark: SparkSession | None = None,
    blocking: bool = False,
    sweep_all: bool = False,
) -> None:
    """Release the CURRENT scope and the module-level scope, and drain
    every KeyedCache whose values own Spark storage.  Everything the
    library persists registers at creation, so this frees all
    library-held storage; caches created by the embedding application are
    left alone unless ``sweep_all=True`` requests a whole-registry
    sweep.  Caches of driver-side plans and documents keep their
    entries."""
    scope = current_scope()
    scope.release(spark, blocking)
    if scope is not _global_scope:
        _global_scope.release(spark, blocking)
    for cache in list(_caches):
        if cache.owns_storage:
            cache.clear()
    if sweep_all and spark is not None:
        try:
            unpersist_rdd_ids(spark, persistent_rdd_ids(spark), blocking)
        except Exception:
            pass


def spread_scan(df: DataFrame, min_fill: int = 4) -> DataFrame:
    """Raise scan parallelism for small/unsplittable inputs (optimization
    guide §2.5 "input skew": one single-row-group parquet file scans as
    ONE task, serializing a corpus-sized explode+aggregate onto one core
    of local[32]).  When the input is below defaultParallelism /
    ``min_fill`` granules, repartition round-robin to defaultParallelism
    — one tiny shuffle of the raw rows buys a 32-way explode stage.
    No-op whenever the scan is already reasonably parallel (the 100 TB
    case: thousands of input files >> cores), so no Exchange is added at
    scale.

    Call on RAW SCANS (or scan + row-local projections/filters) only:

    - Only correct for ORDER-INSENSITIVE consumers (aggregations, joins,
      row-wise projections): round-robin repartitioning reorders rows.
    - The many-files no-op decides from ``df.inputFiles()`` — plan
      metadata, no job.  Only a FEW-files input
      falls through to ``df.rdd.getNumPartitions()``, which compiles the
      physical plan and, under AQE, would eagerly materialize query
      stages if the plan contained a shuffle — a raw scan never does.
    """
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        files = df.inputFiles()
        if files and len(files) * min_fill >= target:
            return df  # enough input granules — structural no-op at scale
        if df.rdd.getNumPartitions() * min_fill >= target:
            return df
    except Exception:
        return df
    return df.repartition(target)
