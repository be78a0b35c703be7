"""Metadata-only column rename/drop (publish.rename_column /
drop_column — the Delta column-mapping role): physical names stay
immutable in the files while the logical schema moves, so a 100 TB
table renames in O(1) metadata instead of an O(table) rewrite.

Pinned here: boundary visibility (read/scan/snapshot/time travel),
skipping on renamed predicates, MoR merges in the new names, CDC
transparency (a rename emits ZERO row changes and the O(delta) fast
path bridges it), compact carrying the map, drop semantics, and the
refusal rules that keep old file bytes from bleeding into new columns.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.plans import publish


def _t(spark, n=20):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )


def _store(spark, tmp_path, n=20, **pub_kw):
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark, n)}, root, table_keys={"t": ["k"]}, **pub_kw
    )
    return root


def test_rename_is_metadata_only_and_visible_everywhere(spark, tmp_path):
    root = _store(spark, tmp_path)
    files_before = sorted(
        publish._data_files(publish.current_manifest(root)["tables"]["t"]["path"])
    )
    publish.rename_column(spark, root, "t", "v", "value")
    entry = publish.current_manifest(root)["tables"]["t"]
    # zero data movement: same base path, same files
    assert sorted(publish._data_files(entry["path"])) == files_before
    assert publish.read_table(spark, root, "t").columns == ["k", "value", "s"]
    assert publish.table_keys(root, "t") == ["k"]
    # time travel sees the old name; the new version the new one
    assert publish.read_table_at(spark, root, "t", 1).columns == ["k", "v", "s"]
    assert publish.snapshot(spark, root).table("t").columns == ["k", "value", "s"]
    # logical values unchanged
    got = {r["k"]: r["value"] for r in publish.read_table(spark, root, "t").collect()}
    assert got == {i: 2 * i for i in range(20)}


def test_renamed_predicate_keeps_file_skipping(spark, tmp_path):
    root = str(tmp_path / "store")
    # k-clustered files so a k-range predicate prunes
    df = _t(spark, 100).repartitionByRange(10, "k").sortWithinPartitions("k")
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["k"]})
    publish.rename_column(spark, root, "t", "k", "key")
    kept, total = publish.prune_files(root, "t", [("key", "<", 5)])
    assert total >= 10 and len(kept) <= 2  # skipping engaged, not a full scan
    out = publish.scan_table(spark, root, "t", [("key", "<", 5)])
    assert out.columns == ["key", "v", "s"]
    assert {r["key"] for r in out.collect()} == set(range(5))


def test_mor_merge_and_cdc_in_renamed_names(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "v", "value")  # version 2
    # staging arrives in the NEW name; deletes too
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, 111, "u1"), (99, 999, "n99")], "k long, value long, s string"),
        deletes=spark.createDataFrame([(2,)], "k long"),
    )  # version 3
    cur = {r["k"]: r["value"] for r in publish.read_table(spark, root, "t").collect()}
    assert cur[1] == 111 and cur[99] == 999 and 2 not in cur
    # CDC across the rename commit: logical columns, only real changes
    ch = publish.read_changes(spark, root, "t", from_version=1)
    assert set(ch.columns) == {"k", "value", "s", "change_type"}
    got = {(r["k"], r["change_type"]) for r in ch.collect()}
    assert got == {(1, "update"), (99, "insert"), (2, "delete")}
    # a rename-only span is provably change-free
    assert publish.read_changes(spark, root, "t", 1, 2).count() == 0
    # include_old twins follow the rename
    ch2 = publish.read_changes(spark, root, "t", 1, include_old=True)
    assert "value__old" in ch2.columns and "v__old" not in ch2.columns
    old_vals = {r["k"]: r["value__old"] for r in ch2.collect()}
    assert old_vals[1] == 2 and old_vals[2] == 4 and old_vals[99] is None


def test_rename_bridges_the_odelta_fast_path(spark, tmp_path):
    """A span containing a rename still rides the O(delta) CDC fast path
    — the remap commit extends neither the base nor the delta log, so
    suffix composition sees straight through it."""
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(0, 100, "x")], "k long, v long, s string"),
    )  # v2
    publish.rename_column(spark, root, "t", "v", "value")  # v3
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, 200, "y")], "k long, value long, s string"),
    )  # v4
    fast = publish._mor_changes_fast(
        spark, root, "t", 1, 4, ["k"], "change_type", False,
    )
    assert fast is not None, "rename must not break the fast path"
    got = {(r["k"], r["value"], r["change_type"]) for r in fast.collect()}
    assert got == {(0, 100, "update"), (1, 200, "update")}
    # byte-identical to the generic diff
    generic = publish.read_changes(spark, root, "t", 1, 4)
    assert {(r["k"], r["value"], r["change_type"]) for r in generic.collect()} == got


def test_compact_carries_the_map_and_cdc_bridges_it(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "v", "value")  # v2
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(3, 333, "z")], "k long, value long, s string"),
    )  # v3
    publish.compact(spark, root, "t")  # v4: physical rewrite, map rides
    entry = publish.current_manifest(root)["tables"]["t"]
    assert entry.get("renames") == {"v": "value"}
    assert publish.read_table(spark, root, "t").columns == ["k", "value", "s"]
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(4, 444, "w")], "k long, value long, s string"),
    )  # v5
    # the whole span — merge, rename, merge, compact, merge — bridges
    fast = publish._mor_changes_fast(
        spark, root, "t", 1, 5, ["k"], "change_type", False,
    )
    assert fast is not None, "compact with a column map must stay bridgeable"
    got = {(r["k"], r["value"]) for r in fast.collect()}
    assert got == {(3, 333), (4, 444)}


def test_drop_column_semantics(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.drop_column(spark, root, "t", "s")
    assert publish.read_table(spark, root, "t").columns == ["k", "v"]
    assert publish.read_table_at(spark, root, "t", 1).columns == ["k", "v", "s"]
    # CDC ignores churn confined to the dropped column: update s only
    publish.merge_into_mor(
        spark, root, "t",
        publish.read_table_at(spark, root, "t", 1)
        .filter(F.col("k") < 3)
        .withColumn("s", F.lit("changed"))
        .drop("s"),  # logical staging: k, v unchanged
    )
    # no visible column changed → zero changes
    assert publish.read_changes(spark, root, "t", 2).count() == 0
    # key/layout columns are protected
    with pytest.raises(ValueError, match="key/partition/bucket"):
        publish.drop_column(spark, root, "t", "k")
    with pytest.raises(ValueError, match="no column"):
        publish.drop_column(spark, root, "t", "nope")


def test_dropped_physical_name_cannot_be_reused(spark, tmp_path):
    """Re-evolving a dropped column's name would resurrect old file
    bytes at read time — merge_into_mor refuses until a rewrite purges
    the storage."""
    root = _store(spark, tmp_path)
    publish.drop_column(spark, root, "t", "s")
    with pytest.raises(ValueError, match="dropped physical"):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, 2, "boo")], "k long, v long, s string"),
            evolve_schema=True,
        )


def test_rename_collision_and_shadowing_rules(spark, tmp_path):
    root = _store(spark, tmp_path)
    with pytest.raises(ValueError, match="already has"):
        publish.rename_column(spark, root, "t", "v", "s")
    with pytest.raises(ValueError, match="no column"):
        publish.rename_column(spark, root, "t", "nope", "x")
    publish.rename_column(spark, root, "t", "v", "value")
    # a NEW evolved column may not shadow the renamed-away physical name
    with pytest.raises(ValueError, match="shadow"):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, "boo")], "k long, v string"),
            evolve_schema=True,
        )
    # rename back to the physical name folds the map away entirely
    publish.rename_column(spark, root, "t", "value", "v")
    assert "renames" not in publish.current_manifest(root)["tables"]["t"]


def test_cow_merge_resets_the_map_into_fresh_files(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "v", "value")
    publish.merge_into(
        spark, root, "t",
        spark.createDataFrame([(1, 5, "u")], "k long, value long, s string"),
        keys=["k"],
    )
    entry = publish.current_manifest(root)["tables"]["t"]
    assert "renames" not in entry  # fresh files carry logical names
    assert entry["keys"] == ["k"]
    df = publish.read_table(spark, root, "t")
    assert df.columns == ["k", "value", "s"]
    assert df.filter(F.col("k") == 1).collect()[0]["value"] == 5
    # physical files really carry the new name now
    import pyarrow.parquet as pq

    f = publish._data_files(entry["path"])[0]
    assert "value" in pq.read_schema(f).names


def test_rename_partition_column_keeps_pruning(spark, tmp_path):
    root = str(tmp_path / "store")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("part"),
        F.col("id").alias("v"),
    )
    publish.publish_tables(
        spark, {"t": df}, root,
        table_keys={"t": ["k"]}, partition_by={"t": ["part"]},
    )
    publish.rename_column(spark, root, "t", "part", "bucket_no")
    out = publish.scan_table(spark, root, "t", [("bucket_no", "=", 2)])
    assert "bucket_no" in out.columns
    assert {r["k"] % 4 for r in out.collect()} == {2}
    kept, total = publish.prune_files(root, "t", [("bucket_no", "=", 2)])
    assert len(kept) < total  # directory stats still prune


def test_streaming_source_serves_logical_names(spark, tmp_path):
    """store_changes declares the LOGICAL schema and reads the physical
    files underneath — a stream started after a rename follows the
    renamed table."""
    from dataintegration_ecomprovider_spark.streaming.store_source import (
        StoreChangesDataSource,
    )

    root = _store(spark, tmp_path, n=5)
    publish.rename_column(spark, root, "t", "v", "value")
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(9, 900, "n")], "k long, value long, s string"),
    )
    spark.dataSource.register(StoreChangesDataSource)
    q = (
        spark.readStream.format("store_changes")
        .option("root", root).option("table", "t")
        .option("startingVersion", 2)
        .load()
        .writeStream.format("memory").queryName("cmap_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from cmap_stream").collect()
    assert set(spark.sql("select * from cmap_stream").columns) >= {"k", "value", "s"}
    assert {(r["k"], r["value"]) for r in rows} == {(9, 900)}


def test_compact_materialize_mapping_purges_and_resets(spark, tmp_path):
    """compact(materialize_mapping=True): the rename folds into fresh
    physical files and the dropped column's BYTES are purged (the
    privacy path); the entry carries no map afterwards, logical reads
    are unchanged, and CDC across the rewrite is an honest full diff
    that emits zero changes."""
    import pyarrow.parquet as pq

    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "v", "value")  # v2
    publish.drop_column(spark, root, "t", "s")             # v3
    before = {r["k"]: r["value"] for r in publish.read_table(spark, root, "t").collect()}
    publish.compact(spark, root, "t", materialize_mapping=True)  # v4
    entry = publish.current_manifest(root)["tables"]["t"]
    assert "renames" not in entry and "dropped" not in entry
    assert "rewrite_of" not in entry  # physical names changed: no bridge claim
    for f in publish._data_files(entry["path"]):
        names = pq.read_schema(f).names
        assert "value" in names and "v" not in names and "s" not in names
    after = {r["k"]: r["value"] for r in publish.read_table(spark, root, "t").collect()}
    assert after == before
    # value-identical across the rewrite: the full diff emits nothing
    assert publish.read_changes(spark, root, "t", 3, 4).count() == 0
    # spans after the materialization fast-path again
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(7, 700)], "k long, value long"),
    )  # v5
    fast = publish._mor_changes_fast(spark, root, "t", 4, 5, ["k"], "change_type", False)
    assert fast is not None
    assert {(r["k"], r["value"]) for r in fast.collect()} == {(7, 700)}
    # dropped physical name is reusable again after the purge
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(8, 800, "fresh")], "k long, value long, s string"),
        evolve_schema=True,
    )
    got = publish.read_table(spark, root, "t").filter(F.col("k") == 8).collect()[0]
    assert got["s"] == "fresh"


def test_store_usage_reports_pending_purges(spark, tmp_path):
    """store_usage surfaces column maps — in particular dropped columns
    whose bytes still await a physical purge — so an operator can
    schedule compact(materialize_mapping=True) on a privacy clock."""
    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "v", "value")
    publish.drop_column(spark, root, "t", "s")
    rep = publish.store_usage(root)["tables"]["t"]
    assert rep["renamed_columns"] == {"v": "value"}
    assert rep["dropped_columns_pending_purge"] == ["s"]
    publish.compact(spark, root, "t", materialize_mapping=True)
    rep = publish.store_usage(root)["tables"]["t"]
    assert "renamed_columns" not in rep
    assert "dropped_columns_pending_purge" not in rep


def test_replicate_mirrors_renames_and_drops(spark, tmp_path):
    """replicate_table replays the source's metadata rename/drop commits
    onto the replica before applying the CDC delta — without the mirror
    the feed's new column names would evolve the replica into carrying
    the old column with stale values beside the new one."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    publish.publish_tables(
        spark, {"t": _t(spark, 10)}, src, table_keys={"t": ["k"]}
    )
    assert publish.replicate_table(spark, src, dst, "t")["mode"] == "seed"
    # source: rename v → value, drop s, and change data — one sync span
    publish.rename_column(spark, src, "t", "v", "value")
    publish.drop_column(spark, src, "t", "s")
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(1, 111), (77, 770)], "k long, value long"),
        deletes=spark.createDataFrame([(3,)], "k long"),
    )
    res = publish.replicate_table(spark, src, dst, "t", mor=True)
    assert res["mode"] == "delta_mor"
    rep = publish.read_table(spark, dst, "t")
    assert rep.columns == ["k", "value"]  # renamed, dropped — no stale twin
    got = {r["k"]: r["value"] for r in rep.collect()}
    assert got[1] == 111 and got[77] == 770 and 3 not in got
    assert got[5] == 10  # untouched rows kept their values under the new name
    # a later rename of the KEY column syncs too
    publish.rename_column(spark, src, "t", "k", "key")
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(78, 780)], "key long, value long"),
    )
    res = publish.replicate_table(spark, src, dst, "t", mor=True)
    assert res["mode"] == "delta_mor"
    rep = publish.read_table(spark, dst, "t")
    assert rep.columns == ["key", "value"]
    assert {r["key"] for r in rep.filter(F.col("value") == 780).collect()} == {78}


def test_drop_table_is_versioned(spark, tmp_path):
    """drop_table removes the table from the current version in O(1)
    metadata; history still reads it, rollback resurrects it, vacuum
    eventually reclaims its bytes, and the name is reusable."""
    root = _store(spark, tmp_path)  # version 1
    publish.publish_tables(spark, {"u": _t(spark, 5)}, root)  # version 2
    publish.drop_table(root, "t")  # version 3
    with pytest.raises(KeyError):
        publish.read_table(spark, root, "t")
    assert publish.read_table(spark, root, "u").count() == 5  # others untouched
    assert publish.read_table_at(spark, root, "t", 2).count() == 20
    # the name is immediately reusable with a fresh schema
    publish.publish_tables(
        spark, {"t": spark.range(3).select(F.col("id").alias("x"))}, root
    )
    assert publish.read_table(spark, root, "t").columns == ["x"]
    # rollback to before the drop resurrects the original
    publish.rollback(root, 2)
    assert publish.read_table(spark, root, "t").columns == ["k", "v", "s"]
    # once retention rolls past, vacuum reclaims the dropped data
    publish.drop_table(root, "t")
    for i in range(4):
        publish.publish_tables(spark, {"u": _t(spark, 5 + i)}, root)
    rep = publish.vacuum(spark, root, keep_versions=2)
    with pytest.raises(KeyError):
        publish.read_table_at(spark, root, "t", 2)


def test_rename_on_bucketed_table_keeps_merge_loop(spark, tmp_path):
    """Renaming a column of a BUCKETED table: reads present the logical
    schema over the catalog-backed bucketed scan, and the next
    copy-on-write bucketed merge folds the map into fresh files while
    preserving the bucketed layout."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark, 40)}, root,
        bucket_keys={"t": ["k"]}, num_buckets=4, table_keys={"t": ["k"]},
    )
    publish.rename_column(spark, root, "t", "v", "value")
    df = publish.read_table(spark, root, "t")
    assert df.columns == ["k", "value", "s"]
    assert df.count() == 40
    publish.merge_into(
        spark, root, "t",
        spark.createDataFrame([(1, 111, "u")], "k long, value long, s string"),
        keys=["k"], bucketed=True, num_buckets=4,
    )
    entry = publish.current_manifest(root)["tables"]["t"]
    assert "renames" not in entry          # CoW folded the map away
    assert entry["bucket_keys"] == ["k"]   # layout preserved
    got = publish.read_table(spark, root, "t")
    assert got.columns == ["k", "value", "s"]
    assert got.filter(F.col("k") == 1).collect()[0]["value"] == 111


from hypothesis import HealthCheck, given, settings, strategies as st

# random interleavings of the column-mapping lifecycle, checked against a
# plain Python model: whatever order renames / MoR merges / drops /
# rewrites arrive in, the logical read-back must equal the model.
_OPS = st.lists(
    st.sampled_from(["rename", "rename_back", "merge", "drop_s", "compact",
                     "materialize"]),
    min_size=2, max_size=6,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=_OPS)
def test_mapping_lifecycle_matches_model(spark, tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("prop") / "store")
    publish.publish_tables(
        spark, {"t": _t(spark, 8)}, root, table_keys={"t": ["k"]}
    )
    # model: {k: {col: value}} in LOGICAL names
    model = {i: {"v": 2 * i, "s": f"s{i}"} for i in range(8)}
    v_name, s_alive, merge_i = "v", True, 0
    for op in ops:
        if op == "rename" and v_name == "v":
            publish.rename_column(spark, root, "t", "v", "value")
            for row in model.values():
                row["value"] = row.pop("v")
            v_name = "value"
        elif op == "rename_back" and v_name == "value":
            publish.rename_column(spark, root, "t", "value", "v")
            for row in model.values():
                row["v"] = row.pop("value")
            v_name = "v"
        elif op == "merge":
            merge_i += 1
            k = merge_i % 8
            cols = [("k", "long"), (v_name, "long")] + (
                [("s", "string")] if s_alive else []
            )
            schema = ", ".join(f"{c} {t}" for c, t in cols)
            vals = (k, 100 + merge_i) + (("upd",) if s_alive else ())
            publish.merge_into_mor(
                spark, root, "t", spark.createDataFrame([vals], schema)
            )
            model[k][v_name] = 100 + merge_i
            if s_alive:
                model[k]["s"] = "upd"
        elif op == "drop_s" and s_alive:
            publish.drop_column(spark, root, "t", "s")
            for row in model.values():
                row.pop("s", None)
            s_alive = False
        elif op == "compact":
            publish.compact(spark, root, "t")
        elif op == "materialize":
            publish.compact(spark, root, "t", materialize_mapping=True)
    got = {
        r["k"]: {c: r[c] for c in r.asDict() if c != "k"}
        for r in publish.read_table(spark, root, "t").collect()
    }
    assert got == model


def test_replicate_mirrors_column_swap_in_one_span(spark, tmp_path):
    """A source that SWAPPED two column names within one sync span (via
    its own temp name: v→tmp, s→v, tmp→s) must mirror onto the replica —
    a single-pass mirror would find every target name occupied, apply
    zero renames, and let the next CDC delta upsert values into the
    swapped columns (silent divergence)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    publish.publish_tables(
        spark, {"t": _t(spark, 10)}, src, table_keys={"t": ["k"]}
    )
    assert publish.replicate_table(spark, src, dst, "t")["mode"] == "seed"
    # swap v and s through a temp name — one sync span
    publish.rename_column(spark, src, "t", "v", "__tmp")
    publish.rename_column(spark, src, "t", "s", "v")
    publish.rename_column(spark, src, "t", "__tmp", "s")
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(1, "swapped", 111)], "k long, v string, s long"),
    )
    res = publish.replicate_table(spark, src, dst, "t", mor=True)
    assert res["mode"] == "delta_mor"
    rep = publish.read_table(spark, dst, "t")
    assert set(rep.columns) == {"k", "v", "s"}
    got = {r["k"]: (r["v"], r["s"]) for r in rep.collect()}
    src_now = {r["k"]: (r["v"], r["s"])
               for r in publish.read_table(spark, src, "t").collect()}
    assert got == src_now
    assert got[1] == ("swapped", 111)
    assert got[5] == ("s5", 10)  # untouched row: values live under swapped names


def test_replicate_mirror_chain_applies_in_dependency_order(spark, tmp_path):
    """A rename chain within one span (s→s2 freeing 's', then v→s taking
    it) mirrors regardless of map iteration order — the fixpoint waits
    for the occupant to move first."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    publish.publish_tables(
        spark, {"t": _t(spark, 8)}, src, table_keys={"t": ["k"]}
    )
    publish.replicate_table(spark, src, dst, "t")
    publish.rename_column(spark, src, "t", "s", "s2")
    publish.rename_column(spark, src, "t", "v", "s")
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(2, 222, "x2")], "k long, s long, s2 string"),
    )
    publish.replicate_table(spark, src, dst, "t", mor=True)
    rep = publish.read_table(spark, dst, "t")
    assert set(rep.columns) == {"k", "s", "s2"}
    got = {r["k"]: (r["s"], r["s2"]) for r in rep.collect()}
    assert got[2] == (222, "x2")
    assert got[3] == (6, "s3")


def test_replicate_mirror_conflict_falls_back_to_reseed(spark, tmp_path):
    """When a mirrored rename's target is occupied by a replica column
    NOT renamed away in the span (the replica diverged — e.g. someone
    renamed a replica column by hand), metadata mirroring cannot
    reconcile; replicate_table re-seeds from the source's current state
    instead of silently skipping the rename."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    publish.publish_tables(
        spark, {"t": _t(spark, 6)}, src, table_keys={"t": ["k"]}
    )
    publish.replicate_table(spark, src, dst, "t")
    # replica diverges by hand: s → z
    publish.rename_column(spark, dst, "t", "s", "z")
    # source renames v → z in the same span (z unused at the source)
    publish.rename_column(spark, src, "t", "v", "z")
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(1, 11, "sX")], "k long, z long, s string"),
    )
    res = publish.replicate_table(spark, src, dst, "t")
    assert res["mode"] == "seed"  # conflict → full re-seed, not divergence
    rep = publish.read_table(spark, dst, "t")
    assert set(rep.columns) == {"k", "z", "s"}
    got = {r["k"]: (r["z"], r["s"]) for r in rep.collect()}
    assert got[1] == (11, "sX") and got[2] == (4, "s2")


def test_drop_column_refuses_bucket_source_column(spark, tmp_path):
    """Bucketed merge tables record NORMALIZED '__k_<col>' bucket keys;
    dropping the underlying source column must be refused like any other
    layout column — allowing it leaves table_keys reporting a dropped
    column and breaks every later merge."""
    from dataintegration_ecomprovider_spark.functions.text import ci

    root = str(tmp_path / "store")
    df = spark.range(10).select(
        F.concat(F.lit("Name"), F.col("id")).alias("name"),
        F.col("id").alias("v"),
    ).withColumn("__k_name", ci(F.col("name")))
    publish.publish_tables(
        spark, {"t": df}, root,
        bucket_keys={"t": ["__k_name"]}, num_buckets=4,
    )
    assert publish.table_keys(root, "t") == ["name"]
    with pytest.raises(ValueError, match="key/partition/bucket"):
        publish.drop_column(spark, root, "t", "name")
    assert publish.table_keys(root, "t") == ["name"]  # still intact
    publish.drop_column(spark, root, "t", "v")  # non-layout columns still drop


