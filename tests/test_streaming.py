"""Structured Streaming tests: the true streaming forms of the batch
queries in plans/stream_queries.py — file source, watermarked windowed agg,
foreachBatch incremental merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.streaming import incremental
from dataintegration_ecomprovider_spark.streaming.windows import tumbling_agg
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_batch(spark):
    # the catalog normalizes the nanos timestamp; re-write a micros copy so
    # readStream can use a plain schema (module-scoped: one write per run)
    return Catalog(spark, SF_DIR).table("events")


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory, events_batch):
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    # several files so maxFilesPerTrigger yields multiple micro-batches
    events_batch.repartition(4).write.parquet(path)
    return path


def test_windowed_agg_stream_matches_batch(spark, events_batch, events_dir, tmp_path):
    stream = incremental.file_stream(spark, events_dir, events_batch.schema)
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ]
    windowed = tumbling_agg(
        stream, "ts", "1 hour", ["event_type"], aggs, watermark="10 minutes"
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("windowed_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("windowed_agg").toPandas()
    want = tumbling_agg(events_batch, "ts", "1 hour", ["event_type"], aggs).toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got[key + ["n_events", "total_value"]].equals(
        want[key + ["n_events", "total_value"]]
    )


def test_foreachbatch_merge_converges_to_batch_upsert(spark, events_batch, events_dir, tmp_path):
    """Streaming the staged rows through per-batch MERGE must end in the
    same state as one batch upsert of everything (idempotent re-run model)."""
    from dataintegration_ecomprovider_spark.operators import merge

    dest0 = events_batch.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    store = {"state": dest0.toPandas()}

    def read_dest(s):
        return s.createDataFrame(store["state"])

    def write_dest(df):
        store["state"] = df.toPandas()

    stream = incremental.file_stream(spark, events_dir, events_batch.schema).select(
        "event_id", "event_type", F.round(F.col("value") + 1, 2).alias("value")
    )
    q = incremental.merge_each_batch(
        stream, ["event_id"], read_dest, write_dest,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q.awaitTermination(180)

    staged_all = events_batch.select(
        "event_id", "event_type", F.round(F.col("value") + 1, 2).alias("value")
    )
    want = merge.upsert(dest0, staged_all, ["event_id"]).toPandas()
    got = store["state"]
    got = got.sort_values("event_id").reset_index(drop=True)
    want = want.sort_values("event_id").reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["value"].round(2).values == want["value"].round(2).values).all()


def test_stream_into_store_versions_per_batch(spark, tmp_path):
    """File stream -> versioned store: each micro-batch publishes one
    version via the shared merge path; the final state upserts correctly
    and history supports time travel to the pre-batch version."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    publish.publish_tables(spark, {"t": base}, root)

    batch1 = spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"])
    batch1.coalesce(1).write.mode("append").parquet(src)

    q = stream_into_store(
        file_stream(spark, src, batch1.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt,
    )
    q.awaitTermination(120)

    manifest = publish.current_manifest(root)
    assert manifest["version"] == 2
    rows = {
        r["k"]: r["v"]
        for r in publish.read_table(spark, root, "t").collect()
    }
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d"}
    # previous version intact (time travel)
    v1 = {r["k"]: r["v"] for r in publish.read_table_at(spark, root, "t", 1).collect()}
    assert v1 == {1: "a", 2: "b", 3: "c"}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Two file STREAMS joined with interval_join + watermarks emit
    exactly the rows the batch form (the oracle-checked
    stream_interval_join query) produces."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.plans.stream_queries import (
        q_interval_join,
    )
    from dataintegration_ecomprovider_spark.streaming.incremental import file_stream
    from dataintegration_ecomprovider_spark.streaming.joins import interval_join

    from tests.conftest import SF_DIR

    events = Catalog(spark, SF_DIR).table("events")
    clicks_b = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases_b = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.round("value", 2).alias("purchase_value"),
    )
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks_b.coalesce(1).write.parquet(cdir)
    purchases_b.coalesce(1).write.parquet(pdir)

    joined = interval_join(
        file_stream(spark, cdir, clicks_b.schema, max_files_per_trigger=10),
        file_stream(spark, pdir, purchases_b.schema, max_files_per_trigger=10),
        key="user_id", left_ts="click_ts", right_ts="purchase_ts",
        upper="30 minutes",
        left_watermark="1 hour", right_watermark="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in spark.table("ssj_out").collect()
    }
    expected = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in q_interval_join(spark, SF_DIR).collect()
    }
    assert got == expected and len(expected) > 0


def test_interval_join_lower_bound(spark):
    """lower widens/narrows the window: negative admits right events
    before the left event; positive excludes the immediate aftermath."""
    from dataintegration_ecomprovider_spark.streaming.joins import interval_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], ["k", "lts"]
    ).select("k", F.col("lts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:58:00", "before"),
         (1, "2024-01-01 10:03:00", "in"),
         (1, "2024-01-01 10:40:00", "late")],
        ["k", "rts", "tag"],
    ).select("k", F.col("rts").cast("timestamp"), "tag")

    def tags(**kw):
        return {
            r.tag
            for r in interval_join(
                left, right, key="k", left_ts="lts", right_ts="rts", **kw
            ).collect()
        }

    assert tags(upper="30 minutes") == {"in"}
    assert tags(upper="30 minutes", lower="-5 minutes") == {"before", "in"}
    assert tags(upper="50 minutes", lower="5 minutes") == {"late"}


def test_stream_into_store_mor_appends_deltas(spark, tmp_path):
    """mor=True: micro-batches append delta files instead of rewriting
    the table — the base dir stays byte-identical across batches, state
    reconstructs correctly, and auto-compaction folds the delta log."""
    import os

    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["k"]})
    base_path = publish.current_manifest(root)["tables"]["t"]["path"]
    base_sig = {
        (f, os.path.getmtime(f)) for f in publish._data_files(base_path)
    }

    spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]) \
        .coalesce(1).write.mode("append").parquet(src)
    q = stream_into_store(
        file_stream(spark, src, base.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt, mor=True,
    )
    q.awaitTermination(120)

    entry = publish.current_manifest(root)["tables"]["t"]
    assert entry["path"] == base_path
    assert len(entry["deltas"]) == 1
    assert {
        (f, os.path.getmtime(f)) for f in publish._data_files(base_path)
    } == base_sig
    rows = {r["k"]: r["v"] for r in publish.read_table(spark, root, "t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d"}

    # second batch with a tight auto-compact budget folds the delta log
    spark.createDataFrame([(5, "e")], ["k", "v"]) \
        .coalesce(1).write.mode("append").parquet(src)
    q = stream_into_store(
        file_stream(spark, src, base.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt, mor=True, auto_compact_files=1,
    )
    q.awaitTermination(120)
    entry = publish.current_manifest(root)["tables"]["t"]
    assert not entry.get("deltas")
    rows = {r["k"]: r["v"] for r in publish.read_table(spark, root, "t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c", 4: "d", 5: "e"}


def test_streaming_replication_end_to_end(spark, tmp_path):
    """The full streaming replication loop: a source store advances
    version by version; the store_changes CDC-tail source streams its
    diffs, and a foreachBatch consumer applies each batch to a REPLICA
    store as a merge-on-read delta — O(changes) moved AND written per
    sync on both sides.  The replica must converge to the source state."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.store_source import (
        StoreChangesDataSource,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id bigint, name string, val double"
    )
    publish.publish_tables(spark, {"t": v1}, src, table_keys={"t": ["id"]})
    publish.publish_tables(spark, {"t": v1}, dst, table_keys={"t": ["id"]})
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(2, "B", 25.0), (3, "c", 30.0)],
                              "id bigint, name string, val double"),
    )
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(4, "d", 40.0)], "id bigint, name string, val double"),
        deletes=spark.createDataFrame([(1,)], "id bigint"),
    )

    spark.dataSource.register(StoreChangesDataSource)

    def apply_batch(batch, batch_id):
        if batch.isEmpty():
            return
        data_cols = [c for c in batch.columns if c != "change_type"]
        publish.merge_into_mor(
            batch.sparkSession, dst, "t",
            staging=batch.filter(F.col("change_type") != "delete").select(*data_cols),
            deletes=batch.filter(F.col("change_type") == "delete").select("id"),
        )

    q = (
        spark.readStream.format("store_changes")
        .option("root", src).option("table", "t")
        .option("startingVersion", "1")
        .load()
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    src_rows = {tuple(r) for r in publish.read_table(spark, src, "t").collect()}
    dst_rows = {tuple(r) for r in publish.read_table(spark, dst, "t").collect()}
    assert dst_rows == src_rows
    # replica advanced by MoR appends, not rewrites
    entry = publish.current_manifest(dst)["tables"]["t"]
    assert entry.get("deltas")


def test_stream_cdc_follow_and_compact_invisible(spark, tmp_path):
    """Streaming + CDC + compaction compose: a follower replaying
    read_changes across the streamed versions reconstructs the final state
    from the base version, and a subsequent compact() — being a pure
    layout rewrite — produces an EMPTY change feed."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    publish.publish_tables(spark, {"t": base}, root)

    spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(4, "D"), (5, "e")], ["k", "v"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    q = stream_into_store(
        file_stream(spark, src, base.schema, max_files_per_trigger=1),
        root, "t", ["k"], ckpt,
    )
    q.awaitTermination(120)

    v_final = publish.current_manifest(root)["version"]
    assert v_final >= 3  # base + one version per micro-batch

    # follower: replay the whole streamed range in one diff
    delta = publish.read_changes(spark, root, "t", 1, v_final, keys=["k"])
    replica = publish.apply_changes(
        publish.read_table_at(spark, root, "t", 1), delta, ["k"]
    )
    expect = {(r["k"], r["v"]) for r in publish.read_table(spark, root, "t").collect()}
    assert {(r["k"], r["v"]) for r in replica.collect()} == expect

    # compaction is a layout change only: its version diffs as EMPTY
    publish.compact(spark, root, "t", target_files=1)
    v_compact = publish.current_manifest(root)["version"]
    assert v_compact == v_final + 1
    assert publish.read_changes(
        spark, root, "t", v_final, v_compact, keys=["k"]
    ).count() == 0


def test_stream_into_store_auto_compacts(spark, tmp_path):
    """auto_compact_files keeps a continuously-fed table's file count
    bounded: each micro-batch merges then compacts when the manifest's
    publish-time file count exceeds the threshold — rows stay identical,
    and the bound holds however many batches arrive."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame([(0, "z")], ["k", "v"])
    publish.publish_tables(spark, {"t": base}, root)

    schema = base.schema
    # 4 micro-batches, each appending multi-file input
    for i in range(1, 5):
        b = spark.createDataFrame([(i * 10 + j, f"v{i}") for j in range(4)], ["k", "v"])
        b.repartition(4).write.mode("append").parquet(src)

    q = stream_into_store(
        file_stream(spark, src, schema, max_files_per_trigger=4),
        root, "t", ["k"], ckpt,
        auto_compact_files=3,
    )
    q.awaitTermination(180)

    stats = publish.table_stats(root, "t")
    assert stats["num_files"] <= 3
    got = {r["k"] for r in publish.read_table(spark, root, "t").collect()}
    assert got == {0} | {i * 10 + j for i in range(1, 5) for j in range(4)}


def test_streamed_versions_feed_view_maintenance(spark, tmp_path):
    """End-to-end continuous pipeline: micro-batches stream into the store
    (one version each), then maintain_aggregate AND maintain_join catch the
    derived views up from the accumulated CDC chain in one delta refresh
    apiece — the views equal direct recomputation over the final state.
    Proves the IVM family composes with the streaming version chain
    (multiple versions per refresh, not just single-publish deltas)."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 10, 3.0)], ["k", "fk", "val"]
    )
    dim = spark.createDataFrame([(10, "ten"), (20, "twenty")], ["dk", "name"])
    publish.publish_tables(
        spark, {"t": base, "d": dim}, root,
        table_keys={"t": ["k"], "d": ["dk"]},
    )
    # seed both views at version 1
    materialize.maintain_aggregate(spark, root, "t", "t_by_fk", ["fk"], ["val"])
    materialize.maintain_join(spark, root, "t", "d", "t_wide", fk="fk",
                              dim_key="dk")

    # two micro-batches -> two more source versions (update k=2, insert
    # k=4 into a fresh fk group, then move k=3's fk)
    b1 = spark.createDataFrame([(2, 20, 22.0), (4, 30, 4.0)], ["k", "fk", "val"])
    b2 = spark.createDataFrame([(3, 20, 3.0)], ["k", "fk", "val"])
    b1.coalesce(1).write.mode("append").parquet(src)
    q = stream_into_store(
        file_stream(spark, src, b1.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt,
    )
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("append").parquet(src)
    q = stream_into_store(
        file_stream(spark, src, b1.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt,
    )
    q.awaitTermination(120)

    res_a = materialize.maintain_aggregate(
        spark, root, "t", "t_by_fk", ["fk"], ["val"]
    )
    res_j = materialize.maintain_join(
        spark, root, "t", "d", "t_wide", fk="fk", dim_key="dk"
    )
    assert res_a["mode"] == "delta" and res_j["mode"] == "delta"

    got_agg = sorted(
        tuple(r) for r in publish.read_table(spark, root, "t_by_fk").collect()
    )
    want_agg = sorted(
        tuple(r)
        for r in materialize.aggregate_table(
            publish.read_table(spark, root, "t"), ["fk"], ["val"]
        ).collect()
    )
    assert got_agg == want_agg
    got_join = sorted(
        tuple(r) for r in publish.read_table(spark, root, "t_wide").collect()
    )
    want_join = sorted(
        tuple(r)
        for r in materialize.join_view(
            publish.read_table(spark, root, "t"),
            publish.read_table(spark, root, "d"),
            "fk", "dk",
        ).collect()
    )
    assert got_join == want_join
    assert (4, 30, 4.0, None) in got_join  # new fk group has no dim match


def test_stream_into_store_refreshes_declared_views(spark, tmp_path):
    """stream_into_store(refresh_views=True): views declared in the store
    stay current per micro-batch with no manual refresh — the
    continuous-aggregate loop (declare once, stream forever)."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], ["k", "grp", "val"]
    )
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["k"]})
    materialize.declare_view(
        root, "aggregate", src="t", dst="t_by_grp",
        group_cols=["grp"], sum_cols=["val"],
    )

    batch = spark.createDataFrame(
        [(2, "a", 22.0), (3, "c", 3.0)], ["k", "grp", "val"]
    )
    batch.coalesce(1).write.mode("append").parquet(src)
    q = stream_into_store(
        file_stream(spark, src, batch.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt, refresh_views=True,
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r) for r in publish.read_table(spark, root, "t_by_grp").collect()
    )
    want = sorted(
        tuple(r)
        for r in materialize.aggregate_table(
            publish.read_table(spark, root, "t"), ["grp"], ["val"]
        ).collect()
    )
    assert got == want
    assert ("c", 1, 3.0) in got and ("a", 2, 23.0) in got


def test_view_refresh_failures_are_queryable_not_just_logged(spark, tmp_path):
    """Non-strict view-refresh failures must surface through a queryable
    metric (materialize.view_refresh_errors — an operator/monitor polls
    it to catch views silently going stale), not only a WARNING log
    line; ingest itself keeps committing."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame([(1, "a", 1.0)], ["k", "grp", "val"])
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["k"]})
    # a poisoned declaration: the source column does not exist
    materialize.declare_view(
        root, "aggregate", src="t", dst="t_bad",
        group_cols=["no_such_col"], sum_cols=["val"],
    )
    assert materialize.view_refresh_errors(root) == []

    batch = spark.createDataFrame([(2, "b", 2.0)], ["k", "grp", "val"])
    batch.coalesce(1).write.mode("append").parquet(src)
    q = stream_into_store(
        file_stream(spark, src, batch.schema, max_files_per_trigger=10),
        root, "t", ["k"], ckpt, refresh_views=True,
    )
    q.awaitTermination(120)

    # ingest committed despite the failing view...
    assert publish.read_table(spark, root, "t").count() == 2
    # ...and the failure is recorded queryably, with the view named
    errs = materialize.view_refresh_errors(root)
    assert errs and "t_bad" in errs[-1]["errors"]
    assert errs[-1]["at_unix"] > 0
    # operator acts, clears, and a healthy store reads empty again
    assert materialize.clear_view_errors(root) == len(errs)
    assert materialize.view_refresh_errors(root) == []

def test_stream_keeps_declared_minhash_index_current(spark, tmp_path):
    """Streaming ingest + a declared 'minhash' view: every micro-batch's
    merge is followed by a CDC-driven index refresh, so the MinHash
    signature index tracks the streamed corpus batch by batch — declare
    once, stream forever; an out-of-band curation delete then retracts
    through the same declaration on the next maintenance pass."""
    from dataintegration_ecomprovider_spark.llm import dedup
    from dataintegration_ecomprovider_spark.plans import materialize, publish
    from dataintegration_ecomprovider_spark.streaming.incremental import (
        file_stream, stream_into_store,
    )

    texts = {
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "pack my box with five dozen liquor jugs right now",
        3: "machine learning pipelines deduplicate corpora at scale",
        4: "sphinx of black quartz judge my vow they said",
    }
    root = str(tmp_path / "store")
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    seed = spark.createDataFrame(
        [(1, texts[1])], "doc_id bigint, text string"
    )
    publish.publish_tables(
        spark, {"documents": seed}, root,
        table_keys={"documents": ["doc_id"]},
    )
    materialize.declare_view(
        root, "minhash", src="documents", dst="minhash_sigs"
    )

    spark.createDataFrame(
        [(2, texts[2]), (3, texts[3])], "doc_id bigint, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(4, texts[4])], "doc_id bigint, text string"
    ).coalesce(1).write.mode("append").parquet(src)

    q = stream_into_store(
        file_stream(spark, src, seed.schema, max_files_per_trigger=1),
        root, "documents", ["doc_id"], ckpt, refresh_views=True,
    )
    q.awaitTermination(120)

    def rebuilt_ids():
        cur = publish.read_table(spark, root, "documents")
        return {r["id"] for r in dedup.minhash_signatures(cur).collect()}

    stored = {r["id"] for r in publish.read_table(
        spark, root, "minhash_sigs").collect()}
    assert stored == rebuilt_ids() == {1, 2, 3, 4}
    assert materialize.view_refresh_errors(root) == []

    # out-of-band curation: the SAME declaration retracts on the next pass
    publish.merge_into_mor(
        spark, root, "documents", seed.limit(0),
        deletes=spark.createDataFrame([(3,)], "doc_id bigint"),
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    stored = {r["id"] for r in publish.read_table(
        spark, root, "minhash_sigs").collect()}
    assert stored == rebuilt_ids() == {1, 2, 4}
