"""publish.MOR_READS — whole-table reads of a merge-on-read entry resolve
through one lazily persisted frame per (table, entry).

The cached frame must equal the uncached reconstruction for every delta
shape, stay readable after its cache entry goes (superseded, drained,
compacted), never serve a stale state to a store re-minted at the same
path, and persist once however many readers race for it.  Copy-on-write
and over-budget entries keep the plain read."""

from __future__ import annotations

import os
import shutil
import time

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.plans import publish

SCHEMA = "id bigint, name string, val double"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _store(spark, root, rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))):
    publish.publish_tables(
        spark, {"t": spark.createDataFrame(list(rows), SCHEMA)}, root,
        table_keys={"t": ["id"]},
    )
    return root


def _upsert(spark, root, rows, schema=SCHEMA, **kw):
    publish.merge_into_mor(
        spark, root, "t", spark.createDataFrame(list(rows), schema), **kw
    )


def _slots(root):
    real = os.path.realpath(root)
    return [slot for slot, _ in publish.MOR_READS.keys() if slot[1] == real]


def _uncached(spark, root):
    return publish._read_logical(
        spark, publish.current_manifest(root)["tables"]["t"]
    )


def test_cached_read_equals_uncached_reconstruction(spark, tmp_path):
    root = _store(spark, str(tmp_path / "s"))
    sc = spark.sparkContext

    def check(columns):
        sc.setJobGroup("mor-read-build", "building a cached read")
        try:
            got = publish.read_table(spark, root, "t")
            assert got.columns == columns
            assert got.schema == _uncached(spark, root).schema
        finally:
            sc.setJobGroup("", "")
        # building the frame and asking its schema launched no job
        assert not sc.statusTracker().getJobIdsForGroup("mor-read-build")
        assert _slots(root) and got.is_cached
        assert _rows(got) == _rows(_uncached(spark, root))
        # a snapshot and a predicate-free scan share the one frame
        snap = publish.snapshot(spark, root)
        assert snap.table("t") is got and snap.scan("t") is got
        return _rows(got)

    _upsert(spark, root, [(2, "b2", 25.0), (4, "d", 40.0)],
            deletes=spark.createDataFrame([(3,)], "id bigint"))
    assert check(["id", "name", "val"]) == [
        (1, "a", 10.0), (2, "b2", 25.0), (4, "d", 40.0)]
    # partial-column delta: only `val` is set
    _upsert(spark, root, [(1, 11.0)], "id bigint, val double",
            partial_update=True, insert_new=False)
    assert check(["id", "name", "val"])[0] == (1, "a", 11.0)
    # widened schema_json: the base lacks `region`
    _upsert(spark, root, [(5, "e", 50.0, "EU")], SCHEMA + ", region string",
            evolve_schema=True)
    assert check(["id", "name", "val", "region"])[-1] == (5, "e", 50.0, "EU")
    # rename/drop column map
    publish.rename_column(spark, root, "t", "name", "title")
    publish.drop_column(spark, root, "t", "val")
    assert check(["id", "title", "region"])[0] == (1, "a", None)


def test_handed_out_frame_outlives_its_cache_entry(spark, tmp_path):
    """Superseded, drained or compacted away, a frame already handed out
    recomputes from the immutable files instead of failing — which a
    freed checkpoint could not do."""
    root = _store(spark, str(tmp_path / "s"))
    _upsert(spark, root, [(4, "d", 40.0)])
    held = publish.read_table(spark, root, "t")
    want = _rows(held)
    assert len(want) == 4

    _upsert(spark, root, [(5, "e", 50.0)])
    newer = publish.read_table(spark, root, "t")  # supersedes `held`
    assert newer is not held and len(_slots(root)) == 1
    assert _rows(held) == want

    runtime.release_caches(spark)
    assert not _slots(root)
    assert _rows(newer) == want + [(5, "e", 50.0)]

    before_compact = publish.read_table(spark, root, "t")
    assert _rows(before_compact) == want + [(5, "e", 50.0)]
    publish.compact(spark, root, "t")
    # the compacted entry is copy-on-write: its read drops the cached one
    assert _rows(publish.read_table(spark, root, "t")) == _rows(before_compact)
    assert not _slots(root)
    assert _rows(before_compact) == want + [(5, "e", 50.0)]


def test_store_reminted_at_the_same_path_never_hits_stale(spark, tmp_path):
    root = str(tmp_path / "s")
    _store(spark, root)
    _upsert(spark, root, [(4, "d", 40.0)])
    assert len(_rows(publish.read_table(spark, root, "t"))) == 4
    assert _slots(root)

    # deleted behind the store's back (no vacuum, no invalidation) and
    # minted again: the entry's txid paths differ, so the slot misses
    shutil.rmtree(root)
    _store(spark, root, rows=((7, "x", 1.0),))
    _upsert(spark, root, [(8, "y", 2.0)])
    assert _rows(publish.read_table(spark, root, "t")) == [
        (7, "x", 1.0), (8, "y", 2.0)]

    # vacuum deleting data under the store drops its cached reads
    publish.compact(spark, root, "t")
    _upsert(spark, root, [(9, "z", 3.0)])
    publish.read_table(spark, root, "t").count()
    assert _slots(root)
    assert publish.vacuum(spark, root, keep_versions=1)["removed_paths"]
    assert not _slots(root)
    assert _rows(publish.read_table(spark, root, "t")) == [
        (7, "x", 1.0), (8, "y", 2.0), (9, "z", 3.0)]


def test_concurrent_readers_of_one_entry_persist_once(spark, tmp_path, monkeypatch):
    root = _store(spark, str(tmp_path / "s"))
    _upsert(spark, root, [(4, "d", 40.0)])
    runtime.release_caches(spark)
    persists = []
    persist = type(spark.range(1)).persist

    def slow_persist(self, *args, **kwargs):
        persists.append(1)
        time.sleep(0.3)  # hold the flight open while the others arrive
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(type(spark.range(1)), "persist", slow_persist)
    frames = runtime.map_concurrently(
        lambda _: publish.read_table(spark, root, "t"), range(4)
    )
    assert len(persists) == 1
    assert len({id(f) for f in frames}) == 1
    assert len(_rows(frames[0])) == 4


def test_copy_on_write_and_over_budget_entries_are_not_cached(
    spark, tmp_path, monkeypatch
):
    root = _store(spark, str(tmp_path / "s"))
    cow = publish.read_table(spark, root, "t")
    assert len(_rows(cow)) == 3
    assert not _slots(root) and not cow.is_cached

    _upsert(spark, root, [(4, "d", 40.0)])
    entry = publish.current_manifest(root)["tables"]["t"]
    monkeypatch.setattr(
        publish, "MOR_READ_CACHE_MAX_BYTES", publish._entry_bytes(entry) - 1
    )
    big = publish.read_table(spark, root, "t")
    assert len(_rows(big)) == 4
    assert not _slots(root) and not big.is_cached


def test_release_caches_leaves_no_persisted_rdd(spark, tmp_path):
    root = _store(spark, str(tmp_path / "s"))
    _upsert(spark, root, [(4, "d", 40.0)])
    runtime.release_caches(spark)
    before = runtime.persistent_rdd_ids(spark)
    publish.read_table(spark, root, "t").count()
    assert runtime.persistent_rdd_ids(spark) - before
    runtime.release_caches(spark)
    assert not len(publish.MOR_READS)
    assert runtime.persistent_rdd_ids(spark) == before
