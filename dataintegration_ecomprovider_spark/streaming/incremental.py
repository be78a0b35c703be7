"""Incremental feeds as Structured Streaming (SURVEY §2.10).

The reference has no streaming surface — its incremental model is "re-run
the job idempotently" (upsert semantics + IsFirstJobRun writer reuse,
src/EcomProvider.cs:25, :937-966, :1083-1086).  The Spark engine maps that
onto Structured Streaming: a file/table stream of staged rows, merged into
the destination per micro-batch with the same U1-U3 algebra via
``foreachBatch`` — each batch is exactly the reference's one job run.

At scale: the merge inside foreachBatch is the same join-rewrite used in
batch (shuffle on the key, broadcast when the batch is small); checkpoints
make the stream restartable; `availableNow` gives catch-up-then-stop
semantics for scheduled incremental loads.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from dataintegration_ecomprovider_spark.operators import dedup, merge


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """A parquet file stream with an explicit schema (streaming sources
    cannot infer) — the S4 row-iterator analog: rows arrive continuously
    instead of via GetNext() (src/EcomSourceReader.cs:82-90)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def merge_each_batch(
    stream: DataFrame,
    keys: Sequence[str],
    read_dest: Callable[[SparkSession], DataFrame],
    write_dest: Callable[[DataFrame], None],
    checkpoint_dir: str,
    insert_new: bool = True,
    update_existing: bool = True,
    available_now: bool = True,
    dedup_order_by: Sequence[Column] | None = None,
) -> StreamingQuery:
    """foreachBatch + MERGE: every micro-batch upserts into the destination
    — the reference's re-run-the-job incremental semantics, one batch = one
    job run.  Batch keys are deduped first-wins (the reference discards
    duplicate PK rows, src/EcomDestinationWriter.cs:1269-1278) under
    `dedup_order_by` — an explicit total order, because "first" under a
    parallel scan is not stable; defaults to the non-key columns ascending
    so retries of the same batch pick the same row."""

    def process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        order = list(dedup_order_by) if dedup_order_by is not None else [
            F.col(c) for c in batch.columns if c not in keys
        ]
        deduped = (
            dedup.first_wins(batch, keys, order) if order
            else batch.dropDuplicates(list(keys))
        )
        dest = read_dest(batch.sparkSession)
        new_state = merge.upsert(
            dest, deduped, keys,
            insert_new=insert_new, update_existing=update_existing,
        )
        write_dest(new_state)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_into_store(
    stream: DataFrame,
    root: str,
    name: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    insert_new: bool = True,
    update_existing: bool = True,
    available_now: bool = True,
    dedup_order_by: Sequence[Column] | None = None,
    bucketed: bool = False,
    num_buckets: int = 32,
    auto_compact_files: int | None = None,
    mor: bool = False,
    refresh_views: bool = False,
    strict_views: bool = False,
    exactly_once_app: str | None = None,
) -> StreamingQuery:
    """Stream → versioned store: every micro-batch becomes one crash-safe
    VERSION via publish.merge_into — streaming and batch share one write
    path, and a mid-batch crash leaves the previous version fully visible
    (the manifest swap is the visibility boundary).  On checkpoint replay
    a batch re-merges into the current version: the upsert is idempotent
    on its keys, so the DATA is exactly-once while version numbers are
    at-least-once (a replayed batch can add an identical version).

    `exactly_once_app="name"` upgrades that to exactly-once COMMITS: each
    micro-batch stamps its merge with ``txn=(name, batch_id)`` (Delta's
    `txn` action, publish.last_txn), so a checkpoint replay of an
    already-committed batch is a manifest-level no-op — no duplicate
    version, no duplicate MoR delta, and CDC consumers downstream see
    each change exactly once.  The name identifies the (stream,
    checkpoint) pair; two different streams feeding one table need two
    names, and restarting a stream with a FRESH checkpoint (batch ids
    reset to 0) needs a fresh name.
    `bucketed=True` keeps the destination bucketed across versions
    (merge_into): a continuously-fed 100 TB table never re-shuffles its
    accumulated side, only each (small) incoming batch.

    `auto_compact_files=N` closes the small-file loop inline: after a
    merge leaves the table above N data files (read from the manifest's
    publish-time stats — no file listing), the batch hook runs
    publish.compact before returning.  One-version-per-micro-batch ingest
    then keeps a bounded file count forever instead of deferring to an
    out-of-band OPTIMIZE job — the operational default Delta calls
    auto-compaction, and the read-side guarantee that matters at 100 TB.

    `mor=True` switches each batch's merge to merge_into_mor: the batch
    is committed as an appended DELTA file, so per-batch write cost is
    O(|batch|) instead of O(|table|) — the difference between a stream
    that rewrites 100 TB every trigger and one that appends MBs.  Pair
    with auto_compact_files (compact folds the delta log back into a
    clean base once the total file count crosses N) for bounded read
    amplification.  Replay semantics match the default path: a replayed
    batch appends an identical delta, and last-wins reconstruction makes
    the duplicate invisible.  Incompatible with bucketed=True (the MoR
    base keeps whatever layout the seed publish had).

    `refresh_views=True` runs materialize.refresh_declared_views after
    each batch's merge (and compaction) — every view DECLARED in the
    store stays current with the stream, the continuous-aggregate
    experience: declare once, stream forever.  Refreshes are
    watermark-driven (each consumes exactly the versions since the last),
    so a replayed batch costs an empty refresh, and a view falling behind
    never skips a range.  A failing view refresh is logged and skipped by
    default — derived-view health must not halt ingest (a deterministic
    declaration error would otherwise fail every checkpoint replay of the
    same batch); pass strict_views=True to fail the stream instead."""
    from dataintegration_ecomprovider_spark.plans import publish

    if mor and bucketed:
        raise ValueError("mor=True does not combine with bucketed=True")

    def process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        txn = (exactly_once_app, batch_id) if exactly_once_app else None
        order = list(dedup_order_by) if dedup_order_by is not None else [
            F.col(c) for c in batch.columns if c not in keys
        ]
        deduped = (
            dedup.first_wins(batch, keys, order) if order
            else batch.dropDuplicates(list(keys))
        )
        if mor:
            if name in publish.current_manifest(root)["tables"]:
                publish.merge_into_mor(
                    batch.sparkSession, root, name, deduped, keys,
                    insert_new=insert_new, update_existing=update_existing,
                    txn=txn,
                )
            else:
                # first batch seeds the base the delta log hangs off
                publish.publish_tables(
                    batch.sparkSession, {name: deduped}, root,
                    table_keys={name: list(keys)}, txn=txn,
                )
        else:
            publish.merge_into(
                batch.sparkSession, root, name, deduped, keys,
                insert_new=insert_new, update_existing=update_existing,
                bucketed=bucketed, num_buckets=num_buckets, txn=txn,
            )
        if auto_compact_files is not None:
            stats = publish.table_stats(root, name)
            if stats and stats.get("num_files") and stats["num_files"] > auto_compact_files:
                publish.compact(batch.sparkSession, root, name)
        if refresh_views:
            from dataintegration_ecomprovider_spark.plans import materialize

            report = materialize.refresh_declared_views(batch.sparkSession, root)
            if report["errors"]:
                # view errors are usually deterministic (a bad column in a
                # declared spec), so failing the stream would poison-pill
                # ALL future ingest on checkpoint replay — one bad
                # declaration, addable by any store writer, must not halt
                # the feed.  Default: log and keep ingesting (the view's
                # watermark doesn't advance, so a fixed declaration
                # catches up on the next batch); strict_views=True opts
                # into fail-fast for pipelines that prefer a hard stop.
                if strict_views:
                    raise RuntimeError(
                        f"declared-view refresh failed: {report['errors']}"
                    )
                import logging

                # queryable signal, not just a log line: operators poll
                # materialize.view_refresh_errors(root) (or alert on the
                # file) to catch views silently going stale
                materialize.record_view_errors(
                    root, batch_id, report["errors"]
                )
                logging.getLogger(__name__).warning(
                    "declared-view refresh failed for batch %s "
                    "(ingest continues): %s", batch_id, report["errors"],
                )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_store_to_store(
    spark: SparkSession,
    src_root: str,
    src_table: str,
    dst_root: str,
    dst_table: str,
    checkpoint_dir: str,
    app_id: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    keys: Sequence[str] | None = None,
    starting_version: str = "earliest",
    partitions: int = 1,
    available_now: bool = True,
    evolve_schema: bool = False,
) -> StreamingQuery:
    """A DERIVED store table that follows another store table exactly-once
    through inserts, updates AND deletes — the full streaming loop closed:
    ``store_changes`` (streaming/store_source.py) tails the upstream CDC
    feed, `transform` reshapes each batch's changed rows, and the result
    lands downstream via ``merge_into_mor`` stamped with
    ``txn=(app_id, batch_id)``.

    Exactly-once end to end, from the two halves' guarantees composed:
    the SOURCE's offsets are store versions (replayable, exact — a
    micro-batch is the key-wise diff of two committed versions), and the
    SINK's txn watermark makes a replayed batch a manifest-level no-op
    (publish.last_txn).  A crash anywhere — mid-batch, between sink
    commit and checkpoint commit, during restart — converges to the same
    downstream state with no duplicate versions and no duplicate CDC
    events for ANYONE tailing the downstream table.  Chains compose:
    downstream can itself be tailed by another hop.

    `transform` sees the batch's VALUE rows (upserts — no change_type
    column) and must preserve the key columns; row-local projections,
    casts, filters and enrich-joins against broadcast dims all qualify.
    A row the transform FILTERS OUT is simply absent downstream (its
    later delete is a no-op delete marker).  Deletes replicate by key,
    untransformed.

    `evolve_schema=True` lets the downstream table WIDEN when the
    upstream gains columns: a store_changes stream pins its schema at
    start, so the new columns flow after the stream restarts — without
    this flag that first post-restart batch fails the downstream merge
    (the default, so a widening is an explicit decision at both hops).

    Scale shape: per micro-batch cost is O(changed rows) on both halves
    — the source's MoR fast path reads suffix deltas + a key-scoped base
    probe, the sink appends an O(batch) delta.  The reference analog is
    chained incremental jobs (each destination re-derived by re-running
    its job, /root/reference/src/EcomProvider.cs:937-966); the versioned
    store turns that into an exact change-propagation pipeline."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.store_source import (
        CHANGE_COL,
        StoreChangesDataSource,
    )

    if keys is None:
        keys = publish.table_keys(src_root, src_table)
        if not keys:
            raise ValueError(
                f"source table {src_table!r} has no recorded keys — pass "
                "keys= or publish with publish_tables(table_keys=...)"
            )
    keys = list(keys)
    spark.dataSource.register(StoreChangesDataSource)
    stream = (
        spark.readStream.format("store_changes")
        .option("root", src_root)
        .option("table", src_table)
        .option("startingVersion", starting_version)
        .option("partitions", str(partitions))
        .load()
    )

    process = _store_to_store_sink(
        dst_root, dst_table, app_id, transform, keys, evolve_schema
    )

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _store_to_store_sink(
    dst_root: str,
    dst_table: str,
    app_id: str,
    transform: Callable[[DataFrame], DataFrame] | None,
    keys: Sequence[str],
    evolve_schema: bool = False,
) -> Callable[[DataFrame, int], None]:
    """stream_store_to_store's foreachBatch sink as a reusable closure:
    the stream run and the checkpoint-log replay (replay_store_to_store)
    must push batches through the IDENTICAL merge/seed/txn logic, or the
    replay would prove a different sink than the one that runs."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.store_source import (
        CHANGE_COL,
    )

    keys = list(keys)

    def process(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        txn = (app_id, batch_id)
        upserts = batch.filter(
            F.col(CHANGE_COL).isin("insert", "update")
        ).drop(CHANGE_COL)
        deletes = batch.filter(F.col(CHANGE_COL) == "delete").select(*keys)
        if transform is not None:
            upserts = transform(upserts)
            missing = [k for k in keys if k not in upserts.columns]
            if missing:
                raise ValueError(
                    f"transform must preserve the key columns; lost {missing}"
                )
        sess = batch.sparkSession
        if dst_table in publish.current_manifest(dst_root)["tables"]:
            publish.merge_into_mor(
                sess, dst_root, dst_table, upserts, keys,
                deletes=deletes, txn=txn, evolve_schema=evolve_schema,
            )
        else:
            # first batch seeds the downstream base (an empty table has
            # nothing to delete, so the delete markers can be dropped)
            publish.publish_tables(
                sess, {dst_table: upserts}, dst_root,
                table_keys={dst_table: keys}, txn=txn,
            )

    return process


def replay_store_to_store(
    spark: SparkSession,
    checkpoint_dir: str,
    src_root: str,
    src_table: str,
    dst_root: str,
    dst_table: str,
    app_id: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    keys: Sequence[str] | None = None,
    starting_version: int = 0,
) -> dict:
    """Re-deliver every micro-batch a COMPLETED stream_store_to_store run
    recorded in `checkpoint_dir`, through the SAME sink closure, without
    paying a second structured-streaming start (guide §1.2: ~1.9 s of
    engine fixed cost per start while every replayed merge is a
    manifest-level txn no-op).

    The replay is reconstructed from the engine's own commit log:
    ``commits/`` lists exactly the batch ids that completed,
    ``offsets/<id>`` records each batch's END store version, and a
    batch's rows are the deterministic key-wise diff of its version span
    (publish.read_changes computes the same insert/update/delete feed
    the store_changes source shards per partition).  Each batch is
    re-pushed with its original ``(app_id, batch_id)`` txn stamp — the
    worst-case fresh-checkpoint re-delivery — and the sink's watermark
    must absorb all of it.  The ENGINE-level fresh-checkpoint replay
    (source offset determinism included) stays pinned in
    tests/test_txn.py::test_stream_store_to_store_follows_exactly_once;
    this helper is the cheap per-run proof.

    Returns {"batches": [ids], "spans": {id: (from_v, to_v)}}.  Raises
    if the checkpoint recorded no completed batch (a vacuous replay
    proves nothing).
    """
    import json as _json
    import os as _os

    from dataintegration_ecomprovider_spark.plans import publish

    if keys is None:
        keys = publish.table_keys(src_root, src_table)
        if not keys:
            raise ValueError(
                f"source table {src_table!r} has no recorded keys — pass "
                "keys= or publish with publish_tables(table_keys=...)"
            )
    keys = list(keys)

    commits_dir = _os.path.join(checkpoint_dir, "commits")
    batch_ids = sorted(
        int(f) for f in _os.listdir(commits_dir) if f.isdigit()
    ) if _os.path.isdir(commits_dir) else []
    if not batch_ids:
        raise ValueError(
            f"checkpoint {checkpoint_dir!r} recorded no completed batch — "
            "nothing to replay"
        )

    def _end_version(batch_id: int) -> int:
        path = _os.path.join(checkpoint_dir, "offsets", str(batch_id))
        with open(path, encoding="utf-8") as fh:
            last = [ln for ln in fh.read().splitlines() if ln.strip()][-1]
        off = _json.loads(last)
        if isinstance(off, str):  # engines that double-encode the offset
            off = _json.loads(off)
        return int(off["version"])

    from dataintegration_ecomprovider_spark.streaming.store_source import (
        CHANGE_COL,
    )

    def _batch_frame(a: int, b: int) -> DataFrame | None:
        # version 0 (and a table not yet created at `a`) reads as EMPTY
        # on the source side, so the whole snapshot at `b` diffs to
        # inserts — mirror that here instead of asking read_changes for
        # a version the history doesn't carry
        if a > 0:
            try:
                return publish.read_changes(
                    spark, src_root, src_table,
                    from_version=a, to_version=b, keys=keys,
                )
            except KeyError:
                pass
        try:
            snap = publish.read_table_at(spark, src_root, src_table, b)
        except KeyError:
            return None  # table absent at the span's end: empty batch
        return snap.withColumn(CHANGE_COL, F.lit("insert"))

    sink = _store_to_store_sink(
        dst_root, dst_table, app_id, transform, keys
    )
    spans: dict[int, tuple[int, int]] = {}
    prev_end = int(starting_version)
    for bid in batch_ids:
        end = _end_version(bid)
        spans[bid] = (prev_end, end)
        batch = _batch_frame(prev_end, end)
        if batch is not None:
            sink(batch, bid)
        prev_end = end
    return {"batches": batch_ids, "spans": spans}
