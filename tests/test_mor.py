"""Merge-on-read (MoR) writes for the versioned store.

merge_into (copy-on-write) rewrites the full destination per merge — at
100 TB that's O(table) write amplification per feed.  merge_into_mor
commits only the incoming rows as an appended delta file (Hudi
MERGE_ON_READ / Delta deletion-vector trade); readers reconstruct
lazily, compact() folds deltas back into a clean base.  The reference's
closest analog is re-running a job against an already-loaded destination
(src/EcomProvider.cs:937-966) — there the database's B-tree pays the
in-place cost; here the delta log does.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.operators import merge as merge_ops
from dataintegration_ecomprovider_spark.plans import publish


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _store(spark, tmp_path, rows=((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))):
    root = str(tmp_path / "store")
    base = spark.createDataFrame(list(rows), "id bigint, name string, val double")
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
    return root


def test_mor_upsert_matches_cow_merge(spark, tmp_path):
    root = _store(spark, tmp_path)
    staging = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)], "id bigint, name string, val double"
    )
    base = publish.read_table(spark, root, "t")
    expected = _rows(merge_ops.upsert(base, staging, ["id"]))

    publish.merge_into_mor(spark, root, "t", staging)
    got = publish.read_table(spark, root, "t")
    assert got.columns == ["id", "name", "val"]
    assert _rows(got) == expected


def test_mor_write_is_o_delta_not_o_table(spark, tmp_path):
    """The base directory is untouched by a MoR merge — only a new delta
    dir appears (the whole point: O(|staging|) write amplification)."""
    root = _store(spark, tmp_path)
    entry_before = publish.current_manifest(root)["tables"]["t"]
    base_path = entry_before["path"]
    base_files = {
        (f, os.path.getmtime(f)) for f in publish._data_files(base_path)
    }

    staging = spark.createDataFrame([(1, "a1", 11.0)], "id bigint, name string, val double")
    publish.merge_into_mor(spark, root, "t", staging)

    entry = publish.current_manifest(root)["tables"]["t"]
    assert entry["path"] == base_path  # base never rewritten
    assert {(f, os.path.getmtime(f)) for f in publish._data_files(base_path)} == base_files
    assert len(entry["deltas"]) == 1
    assert entry["deltas"][0]["rows"] == 1


def test_mor_last_wins_across_deltas(spark, tmp_path):
    root = _store(spark, tmp_path)
    for v in (100.0, 200.0, 300.0):
        staging = spark.createDataFrame(
            [(2, "b", v)], "id bigint, name string, val double"
        )
        publish.merge_into_mor(spark, root, "t", staging)
    got = dict(
        (r.id, r.val) for r in publish.read_table(spark, root, "t").collect()
    )
    assert got == {1: 10.0, 2: 300.0, 3: 30.0}


def test_mor_deletes(spark, tmp_path):
    root = _store(spark, tmp_path)
    staging = spark.createDataFrame([(4, "d", 40.0)], "id bigint, name string, val double")
    deletes = spark.createDataFrame([(1,)], "id bigint")
    publish.merge_into_mor(spark, root, "t", staging, deletes=deletes)
    assert _rows(publish.read_table(spark, root, "t")) == {
        (2, "b", 20.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
    }
    # delete then re-insert in a LATER delta resurrects the key
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, "back", 1.0)], "id bigint, name string, val double"),
    )
    assert (1, "back", 1.0) in _rows(publish.read_table(spark, root, "t"))


def test_mor_insert_only_and_update_only(spark, tmp_path):
    root = _store(spark, tmp_path)
    staging = spark.createDataFrame(
        [(2, "upd", 0.0), (9, "new", 9.0)], "id bigint, name string, val double"
    )
    publish.merge_into_mor(spark, root, "t", staging, update_existing=False)
    rows = _rows(publish.read_table(spark, root, "t"))
    assert (2, "b", 20.0) in rows and (9, "new", 9.0) in rows

    publish.merge_into_mor(spark, root, "t", staging, insert_new=False)
    rows = _rows(publish.read_table(spark, root, "t"))
    assert (2, "upd", 0.0) in rows
    assert sum(1 for r in rows if r[0] == 9) == 1  # no duplicate insert


def test_mor_time_travel_and_cdc(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, "b2", 21.0)], "id bigint, name string, val double"),
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(4, "d", 40.0)], "id bigint, name string, val double"),
        deletes=spark.createDataFrame([(3,)], "id bigint"),
    )
    # v1 = base, v2 = +update(2), v3 = +insert(4), -delete(3)
    assert _rows(publish.read_table_at(spark, root, "t", 1)) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }
    assert _rows(publish.read_table_at(spark, root, "t", 2)) == {
        (1, "a", 10.0), (2, "b2", 21.0), (3, "c", 30.0)
    }
    changes = publish.read_changes(spark, root, "t", 2, 3)
    assert _rows(changes) == {
        (3, "c", 30.0, "delete"),
        (4, "d", 40.0, "insert"),
    }


def test_store_usage_audit(spark, tmp_path):
    """store_usage: delta-aware per-table footprint + the vacuumable
    history-only byte count, from metadata alone."""
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(7, "g", 70.0)], "id bigint, name string, val double"),
    )
    u = publish.store_usage(root)
    assert u["version"] == 2 and u["num_versions"] == 2
    assert u["tables"]["t"]["num_deltas"] == 1
    assert u["tables"]["t"]["rows"] == 4  # 3 base + 1 delta (upper bound)
    assert u["history_only_bytes"] == 0  # v1 shares the base dir with v2

    publish.compact(spark, root, "t")  # v3: new base; old base+delta now history-only
    u2 = publish.store_usage(root)
    assert u2["tables"]["t"]["num_deltas"] == 0
    assert u2["history_only_bytes"] > 0
    publish.vacuum(spark, root, keep_versions=1)
    assert publish.store_usage(root)["history_only_bytes"] == 0


def test_maintain_store_policy_pass(spark, tmp_path):
    """maintain_store: compacts only tables over the delta/file budget,
    rebuilds requested blooms after their compaction, vacuums, and keeps
    every table readable with identical rows."""
    import os

    root = str(tmp_path / "store")
    deep = spark.range(5).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id").cast("string")).alias("name")
    )
    shallow = spark.createDataFrame([(1, "x")], "id bigint, name string")
    publish.publish_tables(
        spark, {"deep": deep, "shallow": shallow}, root,
        table_keys={"deep": ["id"], "shallow": ["id"]},
    )
    for i in range(3):  # delta log depth 3 on `deep` only
        publish.merge_into_mor(
            spark, root, "deep",
            spark.createDataFrame([(100 + i, f"n{i}")], "id bigint, name string"),
        )
    before = {r.id for r in publish.read_table(spark, root, "deep").collect()}

    report = publish.maintain_store(
        spark, root, max_deltas=2,
        bloom_columns={"deep": ["id"]},
        keep_versions=1, orphan_min_age_seconds=0,
    )
    assert set(report["compacted"]) == {"deep"}
    assert report["blooms"] == ["deep"] and not report["errors"]
    entry = publish.current_manifest(root)["tables"]["deep"]
    assert not entry.get("deltas")
    assert os.path.exists(os.path.join(entry["path"], publish.BLOOM_FILE))
    assert {r.id for r in publish.read_table(spark, root, "deep").collect()} == before
    # bloom is live: absent-key scan prunes everything
    kept, total = publish.prune_files(root, "deep", [("id", "=", 999_999)])
    assert len(kept) <= 1
    # vacuum pruned history; shallow untouched and readable
    assert publish.store_usage(root)["history_only_bytes"] == 0
    assert publish.read_table(spark, root, "shallow").count() == 1


def test_compact_folds_deltas_into_clean_base(spark, tmp_path):
    root = _store(spark, tmp_path)
    for i in range(4):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame(
                [(10 + i, f"n{i}", float(i))], "id bigint, name string, val double"
            ),
        )
    before = _rows(publish.read_table(spark, root, "t"))
    entry = publish.current_manifest(root)["tables"]["t"]
    assert len(entry["deltas"]) == 4

    res = publish.compact(spark, root, "t")
    entry = publish.current_manifest(root)["tables"]["t"]
    assert not entry.get("deltas")
    assert _rows(publish.read_table(spark, root, "t")) == before
    assert res["files_after"] <= res["files_before"]
    # a fresh MoR merge starts a new delta log on the compacted base
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(99, "z", 9.9)], "id bigint, name string, val double"),
    )
    assert (99, "z", 9.9) in _rows(publish.read_table(spark, root, "t"))


def test_vacuum_keeps_live_delta_dirs(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(5, "e", 50.0)], "id bigint, name string, val double"),
    )
    expected = _rows(publish.read_table(spark, root, "t"))
    # versions: 1 (base), 2 (base+delta).  keep only current.
    publish.vacuum(spark, root, keep_versions=1)
    # the delta dir AND the base dir are both referenced by v2 — neither
    # may be deleted even though v1 (same base path) was pruned
    assert _rows(publish.read_table(spark, root, "t")) == expected
    entry = publish.current_manifest(root)["tables"]["t"]
    for p in publish._entry_paths(entry):
        assert os.path.isdir(p), p


def test_vacuum_removes_pruned_delta_dirs_after_compact(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(5, "e", 50.0)], "id bigint, name string, val double"),
    )
    delta_dir = publish.current_manifest(root)["tables"]["t"]["deltas"][0]["path"]
    publish.compact(spark, root, "t")  # v3: clean base, no deltas
    res = publish.vacuum(spark, root, keep_versions=1)
    assert delta_dir in res["removed_paths"]
    assert not os.path.isdir(delta_dir)


def test_scan_table_skipping_still_sees_deltas(spark, tmp_path):
    root = str(tmp_path / "store")
    base = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("val"),
    ).repartitionByRange(8, "id")
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
    # delta updates id=5 and inserts id=5000 (outside every base file's range)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(5, 99.0), (5000, 42.0)], "id bigint, val double"),
    )
    got = publish.scan_table(spark, root, "t", where=[("id", ">=", 4900)])
    assert _rows(got) == {(5000, 42.0)}
    got2 = publish.scan_table(spark, root, "t", where=[("id", "=", 5)])
    assert _rows(got2) == {(5, 99.0)}
    # pruning actually happened on the base side
    kept, total = publish.prune_files(root, "t", [("id", ">=", 4900)])
    assert total > 1 and len(kept) < total


def test_cdc_fast_path_matches_generic_diff(spark, tmp_path):
    """read_changes between MoR versions rides the O(delta) fast path
    (suffix deltas + one scoped base scan) and must emit exactly what the
    generic two-version full-outer diff emits — including no-op re-upsert
    suppression and include_old columns."""
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(2, "b2", 21.0), (3, "c", 30.0), (4, "d", 40.0)],  # update, no-op, insert
            "id bigint, name string, val double",
        ),
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(4, "d2", 41.0)], "id bigint, name string, val double"),
        deletes=spark.createDataFrame([(1,), (77,)], "id bigint"),  # delete + no-op delete
    )
    for frm, to in [(1, 2), (2, 3), (1, 3)]:
        f_entry = publish.tables_at(root, frm)["t"]
        t_entry = publish.tables_at(root, to)["t"]
        assert publish._mor_delta_suffix(f_entry, t_entry) is not None
        fast = publish.read_changes(spark, root, "t", frm, to, include_old=True)
        generic = publish.diff_frames(
            publish.read_table_at(spark, root, "t", frm),
            publish.read_table_at(spark, root, "t", to),
            ["id"], include_old=True,
        )
        assert sorted(fast.columns) == sorted(generic.columns)
        assert _rows(fast.select(*sorted(fast.columns))) == _rows(
            generic.select(*sorted(fast.columns))
        ), (frm, to)


def test_cdc_bridges_across_compact(spark, tmp_path):
    """Round 7: a compact between the versions no longer forces the
    generic O(2×table) diff — the rewrite commit carries rewrite_of
    provenance, _bridged_delta_suffix composes suffix deltas across it,
    and the fast path stays live on every span.  A rewrites-only span is
    provably change-free: empty CDC with no table scan at all."""
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(9, "i", 90.0)], "id bigint, name string, val double"),
    )
    publish.compact(spark, root, "t")  # v3, new base path
    f_entry = publish.tables_at(root, 2)["t"]
    t_entry = publish.tables_at(root, 3)["t"]
    # the one-step primitive still (correctly) refuses the base change…
    assert publish._mor_delta_suffix(f_entry, t_entry) is None
    # …but the rewrite carries provenance and the walk bridges it
    assert t_entry.get("rewrite_of") == 2
    assert publish._bridged_delta_suffix(root, "t", 2, 3) == []
    suffix13 = publish._bridged_delta_suffix(root, "t", 1, 3)
    assert suffix13 is not None and len(suffix13) == 1
    assert publish.read_changes(spark, root, "t", 2, 3).count() == 0
    changes = publish.read_changes(spark, root, "t", 1, 3)
    assert _rows(changes) == {(9, "i", 90.0, "insert")}

    # deltas on BOTH sides of the rewrite compose: merge → compact → merge
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(9, "i2", 91.0), (10, "j", 100.0)],
                              "id bigint, name string, val double"),
        deletes=spark.createDataFrame([(1,)], "id bigint"),
    )  # v4
    suffix14 = publish._bridged_delta_suffix(root, "t", 1, 4)
    assert suffix14 is not None and len(suffix14) == 2
    for frm, to in [(1, 4), (2, 4), (3, 4), (1, 3)]:
        fast = publish.read_changes(spark, root, "t", frm, to, include_old=True)
        generic = publish.diff_frames(
            publish.read_table_at(spark, root, "t", frm),
            publish.read_table_at(spark, root, "t", to),
            ["id"], include_old=True,
        )
        assert _rows(fast.select(*sorted(fast.columns))) == _rows(
            generic.select(*sorted(fast.columns))
        ), (frm, to)


def test_cdc_falls_back_on_non_preserving_base_change(spark, tmp_path):
    """A copy-on-write republish (no rewrite_of provenance) is NOT
    bridgeable — the walk must abort and read_changes take the honest
    full diff."""
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(9, "i", 90.0)], "id bigint, name string, val double"),
    )  # v2
    # CoW republish with a DATA change (not value-preserving)
    new_state = publish.read_table(spark, root, "t").filter(F.col("id") != 2)
    publish.publish_tables(spark, {"t": new_state}, root)  # v3
    assert publish._bridged_delta_suffix(root, "t", 1, 3) is None
    assert publish._bridged_delta_suffix(root, "t", 2, 3) is None
    changes = publish.read_changes(spark, root, "t", 2, 3)
    assert _rows(changes) == {(2, "b", 20.0, "delete")}


def test_replicate_table_ships_o_delta_across_compact(spark, tmp_path, monkeypatch):
    """A replica sync whose span contains the source's nightly compact
    must still ship O(changed rows): the bridged fast path serves the
    diff, so the generic path's full two-version reconstruction
    (read_table_at) is never invoked."""
    src = _store(spark, tmp_path)
    dst = str(tmp_path / "replica")
    publish.replicate_table(spark, src, dst, "t")  # seed
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(2, "b2", 22.0)], "id bigint, name string, val double"),
    )
    publish.compact(spark, src, "t")
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(4, "d", 40.0)], "id bigint, name string, val double"),
    )

    def _no_full_reconstruction(*a, **kw):
        raise AssertionError(
            "generic full-diff path invoked across a bridgeable span"
        )

    monkeypatch.setattr(publish, "read_table_at", _no_full_reconstruction)
    res = publish.replicate_table(spark, src, dst, "t")
    monkeypatch.undo()
    assert res["mode"] == "delta"
    assert _rows(publish.read_table(spark, dst, "t")) == _rows(
        publish.read_table(spark, src, "t")
    )


# --- hypothesis: arbitrary merge/delete/compact sequences vs a dict model --
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_KEYS = st.integers(min_value=0, max_value=9)
_OPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(st.tuples(_KEYS, st.integers(0, 99)), max_size=4, unique_by=lambda t: t[0]),
            st.lists(_KEYS, max_size=2, unique=True),
        ),
        st.tuples(  # round 9: partial overlay of ONE column (v or w)
            st.sampled_from(["partial_v", "partial_w"]),
            st.lists(st.tuples(_KEYS, st.integers(0, 99)), min_size=1,
                     max_size=4, unique_by=lambda t: t[0]),
            st.none(),
        ),
        st.tuples(st.just("compact"), st.none(), st.none()),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=_OPS)
def test_mor_model_property(spark, tmp_path_factory, ops):
    """Model-based check: any interleaving of MoR merges (upserts +
    deletes), PARTIAL single-column overlays (round 9) and compactions
    must equal a plain dict replay — the store's read-side reconstruction
    IS the dict semantics, at every intermediate version."""
    root = str(tmp_path_factory.mktemp("morprop") / "store")
    base = {0: (1000, 5), 1: (1001, 6)}
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame(
            [(k, v, w) for k, (v, w) in base.items()],
            "id bigint, v bigint, w bigint",
        )},
        root,
        table_keys={"t": ["id"]},
    )
    model = dict(base)
    for op, upserts, deletes in ops:
        if op == "compact":
            publish.compact(spark, root, "t")
        elif op in ("partial_v", "partial_w"):
            col = op[-1]
            publish.merge_into_mor(
                spark, root, "t",
                spark.createDataFrame(upserts, f"id bigint, {col} bigint"),
                partial_update=True, insert_new=False,
            )
            for k, x in upserts:
                if k in model:
                    v, w = model[k]
                    model[k] = (x, w) if col == "v" else (v, x)
        else:
            upserts = [(k, v) for k, v in upserts if k not in (deletes or [])]
            publish.merge_into_mor(
                spark, root, "t",
                spark.createDataFrame(
                    [(k, v, v + 1) for k, v in upserts] or [(999, 0, 0)],
                    "id bigint, v bigint, w bigint",
                )
                .filter(F.lit(bool(upserts))),
                deletes=(
                    spark.createDataFrame([(k,) for k in deletes], "id bigint")
                    if deletes else None
                ),
            )
            for k, v in upserts:
                model[k] = (v, v + 1)
            for k in deletes or []:
                model.pop(k, None)
        got = {
            r.id: (r.v, r.w)
            for r in publish.read_table(spark, root, "t").collect()
        }
        assert got == model


def test_mor_crashed_staging_is_orphan_collectable(spark, tmp_path):
    """A delta staged to disk whose commit never happened (crash between
    write and manifest swap) is invisible to readers and reclaimed by
    collect_orphans — the same crash contract as publish staging."""
    import os

    root = _store(spark, tmp_path)
    # simulate the crash: write a delta dir the manifest never references
    orphan = os.path.join(root, "data", "deadbeef-crash", "t_delta")
    spark.createDataFrame(
        [(2, "ghost", 0.0)], "id bigint, name string, val double"
    ).withColumn(publish.MOR_CHANGE_COL, F.lit("upsert")).write.parquet(orphan)

    assert _rows(publish.read_table(spark, root, "t")) == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)
    }
    res = publish.collect_orphans(spark, root, min_age_seconds=0)
    assert os.path.normpath(orphan) in res["removed_paths"]
    assert not os.path.exists(orphan)


def test_mor_requires_keys_and_existing_table(spark, tmp_path):
    root = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a")], "id bigint, name string")
    with pytest.raises(KeyError):
        publish.merge_into_mor(spark, root, "missing", df, keys=["id"])
    publish.publish_tables(spark, {"t": df}, root)  # no keys recorded
    with pytest.raises(ValueError):
        publish.merge_into_mor(spark, root, "t", df)


def test_mor_over_partitioned_base(spark, tmp_path):
    """A hive-partitioned base reconstructs correctly: partition columns
    come back from the directory layout on the base side and as plain
    columns from the delta files; readers filtering on the partition
    column still see delta rows for it."""
    root = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, "de", 1.0), (2, "de", 2.0), (3, "en", 3.0)],
        "id bigint, lang string, val double",
    )
    publish.publish_tables(
        spark, {"t": base}, root,
        table_keys={"t": ["id"]}, partition_by={"t": ["lang"]},
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(2, "en", 9.0), (4, "fr", 4.0)], "id bigint, lang string, val double"
        ),
        deletes=spark.createDataFrame([(3,)], "id bigint"),
    )
    got = publish.read_table(spark, root, "t")
    assert {(r.id, r.lang, r.val) for r in got.collect()} == {
        (1, "de", 1.0), (2, "en", 9.0), (4, "fr", 4.0)
    }
    # partition-column filter still surfaces the delta row
    assert {(r.id,) for r in got.filter(F.col("lang") == "en").collect()} == {(2,)}


def test_mor_concurrent_writers_both_land(spark, tmp_path):
    """Two merge_into_mor calls racing on one table serialize under the
    commit lock: both deltas append (no lost update), order = commit
    order."""
    import threading

    root = _store(spark, tmp_path)
    errs = []

    def write(uid, val):
        try:
            publish.merge_into_mor(
                spark, root, "t",
                spark.createDataFrame(
                    [(uid, "c", val)], "id bigint, name string, val double"
                ),
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=write, args=(10, 1.0)),
        threading.Thread(target=write, args=(11, 2.0)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    entry = publish.current_manifest(root)["tables"]["t"]
    assert len(entry["deltas"]) == 2
    got = {r.id for r in publish.read_table(spark, root, "t").collect()}
    assert {10, 11} <= got


def test_mor_rejects_unknown_staging_columns(spark, tmp_path):
    root = _store(spark, tmp_path)
    widened = spark.createDataFrame(
        [(1, "a", 1.0, "extra")], "id bigint, name string, val double, note string"
    )
    with pytest.raises(ValueError, match="not in table"):
        publish.merge_into_mor(spark, root, "t", widened)


def test_mor_timestamp_asof_reads(spark, tmp_path):
    import time as _time

    root = _store(spark, tmp_path)
    _time.sleep(0.05)
    t_before = _time.time()
    _time.sleep(0.05)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(9, "z", 9.0)], "id bigint, name string, val double"),
    )
    old = publish.read_table_asof(spark, root, "t", t_before)
    assert {r.id for r in old.collect()} == {1, 2, 3}
    now = publish.read_table_asof(spark, root, "t", _time.time())
    assert {r.id for r in now.collect()} == {1, 2, 3, 9}


def test_mor_base_side_has_no_shuffle(spark, tmp_path):
    """Reconstruction must not shuffle or sort the base: the delta keys
    broadcast (bytes under MOR_BROADCAST_MAX_BYTES) so the base side is a
    BroadcastHashJoin LeftAnti over a plain scan."""
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, "x", 0.0)], "id bigint, name string, val double"),
    )
    plan = (
        publish.read_table(spark, root, "t")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the only Exchange allowed is the broadcast one + the delta window's
    # hash partitioning; the base scan must not feed a SortMergeJoin
    assert "SortMergeJoin" not in plan


def test_mor_schema_evolution_widens_in_place(spark, tmp_path):
    """evolve_schema=True adds new columns as pure metadata: the base is
    never rewritten (pre-evolution rows null-fill), old narrow deltas
    still replay, CDC across the evolution works, and compact folds to
    the widened schema — mirroring merge_into's CoW evolution semantics
    without its O(table) write."""
    root = _store(spark, tmp_path)
    base_path = publish.current_manifest(root)["tables"]["t"]["path"]
    base_files_before = sorted(publish._data_files(base_path))

    # narrow delta first (so the log holds pre-evolution files)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, "b2", 25.0)], "id bigint, name string, val double"),
    )
    # unknown column without the flag still refuses
    wide = spark.createDataFrame(
        [(3, "c3", 35.0, "EU"), (4, "d", 40.0, "US")],
        "id bigint, name string, val double, region string",
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        publish.merge_into_mor(spark, root, "t", wide)

    publish.merge_into_mor(spark, root, "t", wide, evolve_schema=True)
    got = publish.read_table(spark, root, "t")
    assert got.columns == ["id", "name", "val", "region"]
    assert _rows(got) == {
        (1, "a", 10.0, None),      # base row: null-filled
        (2, "b2", 25.0, None),     # pre-evolution delta row: null-filled
        (3, "c3", 35.0, "EU"),
        (4, "d", 40.0, "US"),
    }
    # the base directory was NOT rewritten
    assert sorted(publish._data_files(base_path)) == base_files_before
    entry = publish.current_manifest(root)["tables"]["t"]
    assert entry.get("schema_json")

    # time travel reads the pre-evolution schema at the old version
    old = publish.read_table_at(spark, root, "t", 1)
    assert old.columns == ["id", "name", "val"]

    # CDC across the evolution boundary: new column rides the diff
    changes = publish.read_changes(spark, root, "t", 2, 3, keys=["id"])
    assert set(changes.columns) == {"id", "name", "val", "region", "change_type"}
    assert _rows(changes) == {
        (3, "c3", 35.0, "EU", "update"),
        (4, "d", 40.0, "US", "insert"),
    }

    # a later merge in the WIDENED schema needs no flag
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(5, "e", 50.0, "APAC")],
            "id bigint, name string, val double, region string",
        ),
    )
    # compact folds everything to the new schema and sheds schema_json
    publish.compact(spark, root, "t")
    entry = publish.current_manifest(root)["tables"]["t"]
    assert not entry.get("deltas") and not entry.get("schema_json")
    got = publish.read_table(spark, root, "t")
    assert got.columns == ["id", "name", "val", "region"]
    assert (5, "e", 50.0, "APAC") in _rows(got)


def test_mor_evolution_matches_cow_evolution(spark, tmp_path):
    """MoR evolution and CoW merge_into(evolve_schema=True) must agree on
    the final table state for the same inputs."""
    from dataintegration_ecomprovider_spark.plans import publish as P

    staging = None
    results = {}
    for mode in ("cow", "mor"):
        root = str(tmp_path / mode)
        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "id bigint, name string, val double"
        )
        P.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
        staging = spark.createDataFrame(
            [(2, "b2", 25.0, 7), (3, "c", 30.0, 9)],
            "id bigint, name string, val double, rank int",
        )
        if mode == "cow":
            P.merge_into(spark, root, "t", staging, ["id"], evolve_schema=True)
        else:
            P.merge_into_mor(spark, root, "t", staging, evolve_schema=True)
        df = P.read_table(spark, root, "t")
        results[mode] = (df.columns, _rows(df))
    assert results["cow"] == results["mor"]


def test_mor_type_widening_is_metadata_only(spark, tmp_path):
    """Round 9: a LOSSLESS type change (int→long, float→double) rides the
    same metadata path as add-column evolution — recorded in schema_json,
    base never rewritten, narrow pre-widening deltas cast up at read,
    CDC diffs in the widened type, compact materializes it.  At 100 TB
    the CoW rewrite this replaces is exactly what MoR exists to avoid."""
    root = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, 10, 1.5), (2, 20, 2.5)], "id bigint, cnt int, ratio float"
    )
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
    base_path = publish.current_manifest(root)["tables"]["t"]["path"]
    base_files_before = sorted(publish._data_files(base_path))

    # a narrow delta BEFORE the widening (the log must replay across it)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, 21, 2.75)], "id bigint, cnt int, ratio float"),
    )
    wide = spark.createDataFrame(
        [(3, 5_000_000_000, 3.5), (1, 11, 1.25)],
        "id bigint, cnt long, ratio double",
    )
    publish.merge_into_mor(spark, root, "t", wide, evolve_schema=True)

    got = publish.read_table(spark, root, "t")
    assert dict(got.dtypes) == {"id": "bigint", "cnt": "bigint",
                                "ratio": "double"}
    assert _rows(got) == {
        (1, 11, 1.25),
        (2, 21, 2.75),             # narrow delta row, cast up exactly
        (3, 5_000_000_000, 3.5),   # needs the widened type
    }
    # metadata-only: base untouched, widened schema recorded
    assert sorted(publish._data_files(base_path)) == base_files_before
    entry = publish.current_manifest(root)["tables"]["t"]
    assert entry.get("deltas") and entry.get("schema_json")

    # time travel: the pre-widening version still reads narrow
    assert dict(publish.read_table_at(spark, root, "t", 2).dtypes)["cnt"] \
        == "int"
    # CDC across the widening diffs in the WIDENED type
    changes = publish.read_changes(spark, root, "t", 2, 3, keys=["id"])
    assert dict(changes.drop("change_type").dtypes)["cnt"] == "bigint"
    assert _rows(changes) == {
        (1, 11, 1.25, "update"), (3, 5_000_000_000, 3.5, "insert"),
    }

    # a LATER narrow staging still merges (cast up on read)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(4, 40, 4.5)], "id bigint, cnt int, ratio float"),
    )
    # compact materializes the wide type and sheds the marker
    publish.compact(spark, root, "t")
    entry = publish.current_manifest(root)["tables"]["t"]
    assert not entry.get("deltas") and not entry.get("schema_json")
    got = publish.read_table(spark, root, "t")
    assert dict(got.dtypes)["cnt"] == "bigint"
    assert (4, 40, 4.5) in _rows(got)


def test_mor_type_widening_requires_evolve_flag_only_for_new_cols(
    spark, tmp_path
):
    """Without evolve_schema, a wider-typed staging keeps the pre-round-9
    contract: values conform (cast) to the base type — no silent schema
    change ever happens without the flag."""
    root = str(tmp_path / "store")
    base = spark.createDataFrame([(1, 10)], "id bigint, cnt int")
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, 20)], "id bigint, cnt long"),
    )
    assert dict(publish.read_table(spark, root, "t").dtypes)["cnt"] == "int"


def test_mor_decimal_precision_widening(spark, tmp_path):
    """decimal(p,s) → decimal(p+k,s) is lossless and rides the metadata
    path; a SCALE change is not a widening and conforms to the base."""
    root = str(tmp_path / "store")
    base = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS id, CAST(12.34 AS DECIMAL(6,2)) AS amt"
    )
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
    publish.merge_into_mor(
        spark, root, "t",
        spark.sql("SELECT CAST(2 AS BIGINT) AS id, "
                  "CAST(123456789.01 AS DECIMAL(12,2)) AS amt"),
        evolve_schema=True,
    )
    got = publish.read_table(spark, root, "t")
    assert dict(got.dtypes)["amt"] == "decimal(12,2)"
    assert {(r["id"], str(r["amt"])) for r in got.collect()} == {
        (1, "12.34"), (2, "123456789.01"),
    }
    # scale change: NOT a widening — conforms to the recorded 12,2
    publish.merge_into_mor(
        spark, root, "t",
        spark.sql("SELECT CAST(3 AS BIGINT) AS id, "
                  "CAST(7.777 AS DECIMAL(13,3)) AS amt"),
        evolve_schema=True,
    )
    got = publish.read_table(spark, root, "t")
    assert dict(got.dtypes)["amt"] == "decimal(12,2)"


def test_mor_type_widening_matches_cow(spark, tmp_path):
    """MoR metadata widening and the CoW rewrite must agree on the final
    state AND types for the same inputs (the round-5 evolution-parity
    pattern)."""
    from dataintegration_ecomprovider_spark.plans import publish as P

    results = {}
    for mode in ("cow", "mor"):
        root = str(tmp_path / mode)
        base = spark.createDataFrame(
            [(1, 10, 1.5), (2, 20, 2.5)], "id bigint, cnt int, ratio float"
        )
        P.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
        staging = spark.createDataFrame(
            [(2, 9_000_000_000, 2.25), (3, 30, 3.5)],
            "id bigint, cnt long, ratio double",
        )
        if mode == "cow":
            P.merge_into(spark, root, "t", staging, ["id"],
                         evolve_schema=True)
        else:
            P.merge_into_mor(spark, root, "t", staging, evolve_schema=True)
        df = P.read_table(spark, root, "t")
        results[mode] = (dict(df.dtypes), _rows(df))
    assert results["cow"] == results["mor"]


def test_widen_column_type_metadata_api(spark, tmp_path):
    """Round 9: publish.widen_column_type — ALTER COLUMN TYPE as a pure
    manifest commit (no staging batch, no Spark job on data): readers
    cast up immediately, a subsequent WIDE MoR batch needs no evolve
    flag, and lossy changes refuse."""
    root = str(tmp_path / "store")
    base = spark.createDataFrame([(1, 10), (2, 20)], "id bigint, cnt int")
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["id"]})
    v1 = publish.current_manifest(root)["version"]
    publish.widen_column_type(spark, root, "t", "cnt", "bigint")
    got = publish.read_table(spark, root, "t")
    assert dict(got.dtypes)["cnt"] == "bigint"
    assert _rows(got) == {(1, 10), (2, 20)}
    # the wide batch now merges WITHOUT evolve_schema
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(3, 7_000_000_000)], "id bigint, cnt long"),
    )
    assert (3, 7_000_000_000) in _rows(publish.read_table(spark, root, "t"))
    # time travel keeps the narrow type
    assert dict(publish.read_table_at(spark, root, "t", v1).dtypes)["cnt"] \
        == "int"
    # lossy changes refuse
    with pytest.raises(ValueError, match="not a lossless widening"):
        publish.widen_column_type(spark, root, "t", "cnt", "int")
    with pytest.raises(ValueError, match="not a lossless widening"):
        publish.widen_column_type(spark, root, "t", "id", "string")
    with pytest.raises(ValueError, match="no column"):
        publish.widen_column_type(spark, root, "t", "nope", "bigint")


def test_replicate_across_type_widening(spark, tmp_path):
    """A MoR replica follows a source type widening: the delta arrives in
    the widened type and must not conform DOWN to the narrow replica
    (values past int range would silently corrupt)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame([(1, 10)], "id bigint, cnt int")},
        src, table_keys={"t": ["id"]},
    )
    publish.replicate_table(spark, src, dst, "t", mor=True)  # seed
    publish.merge_into_mor(
        spark, src, "t",
        spark.createDataFrame([(2, 8_000_000_000)], "id bigint, cnt long"),
        evolve_schema=True,
    )
    publish.replicate_table(spark, src, dst, "t", mor=True)
    got = publish.read_table(spark, dst, "t")
    assert dict(got.dtypes)["cnt"] == "bigint"
    assert _rows(got) == {(1, 10), (2, 8_000_000_000)}


def test_partial_update_overlays_only_set_columns(spark, tmp_path):
    """Round 9 partial-column updates: later wins PER COLUMN, explicit
    staged NULLs apply, unset columns ride through, partials never
    create rows, delete markers win, compact folds everything away."""
    root = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(1, 10, "a", 1.0), (2, 20, "b", 2.0), (3, 30, "c", 3.0)],
        "k long, v long, tag string, score double",
    )
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["k"]})
    publish.merge_into_mor(  # full upsert first
        spark, root, "t",
        spark.createDataFrame([(2, 21, "B", 2.5), (4, 40, "d", 4.0)],
                              "k long, v long, tag string, score double"),
    )
    publish.merge_into_mor(  # partial: v only; key 9 does not exist
        spark, root, "t",
        spark.createDataFrame([(1, 100), (2, 200), (9, 900)],
                              "k long, v long"),
        partial_update=True, insert_new=False,
    )
    got = {r["k"]: (r["v"], r["tag"], r["score"])
           for r in publish.read_table(spark, root, "t").collect()}
    assert got == {
        1: (100, "a", 1.0), 2: (200, "B", 2.5),
        3: (30, "c", 3.0), 4: (40, "d", 4.0),
    }
    # the delta FILE is as narrow as the update (keys + set col only)
    entry = publish.current_manifest(root)["tables"]["t"]
    d = entry["deltas"][-1]
    assert d["kinds"] == ["partial"] and d["set_cols"] == ["v"]
    import pyarrow.parquet as pq

    names = [n for n in pq.read_schema(
        publish._data_files(d["path"])[0]
    ).names if not n.startswith("__")]
    assert names == ["k", "v"]

    # a FULL row committed after the partial resets every column
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, 11, "A", 1.5)],
                              "k long, v long, tag string, score double"),
    )
    # an explicitly staged NULL is a SET (distinguishable from unset)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(3, None)], "k long, tag string"),
        partial_update=True, insert_new=False,
    )
    got = {r["k"]: (r["v"], r["tag"])
           for r in publish.read_table(spark, root, "t").collect()}
    assert got[1] == (11, "A") and got[3] == (30, None)

    # delete wins; a later partial never resurrects
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([], "k long, v long, tag string, score double"),
        deletes=spark.createDataFrame([(2,)], "k long"),
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, 999)], "k long, v long"),
        partial_update=True, insert_new=False,
    )
    assert 2 not in {r["k"]
                     for r in publish.read_table(spark, root, "t").collect()}

    # compact folds partials into a clean wide base
    publish.compact(spark, root, "t")
    entry = publish.current_manifest(root)["tables"]["t"]
    assert not entry.get("deltas")
    got = {r["k"]: (r["v"], r["tag"])
           for r in publish.read_table(spark, root, "t").collect()}
    assert got[1] == (11, "A") and got[3] == (30, None)


def test_partial_update_validation(spark, tmp_path):
    root = _store(spark, tmp_path)
    pu = spark.createDataFrame([(1, 99.0)], "id long, val double")
    with pytest.raises(ValueError, match="update-only"):
        publish.merge_into_mor(spark, root, "t", pu, partial_update=True)
    with pytest.raises(ValueError, match="cannot combine with deletes"):
        publish.merge_into_mor(
            spark, root, "t", pu, partial_update=True, insert_new=False,
            deletes=spark.createDataFrame([(2,)], "id long"),
        )
    with pytest.raises(ValueError, match="cannot evolve"):
        publish.merge_into_mor(
            spark, root, "t", pu, partial_update=True, insert_new=False,
            evolve_schema=True,
        )
    with pytest.raises(ValueError, match="at least one non-key"):
        publish.merge_into_mor(
            spark, root, "t", spark.createDataFrame([(1,)], "id long"),
            partial_update=True, insert_new=False,
        )


def test_partial_update_cdc_fast_path_falls_back_but_matches(spark, tmp_path):
    """A span whose suffix holds a partial delta cannot ride the
    last-wins fast path — it must fall back to the generic two-version
    diff and still produce the exact change set."""
    root = _store(spark, tmp_path)
    v1 = publish.current_manifest(root)["version"]
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, 99.0)], "id long, val double"),
        partial_update=True, insert_new=False,
    )
    assert publish._bridged_delta_suffix(root, "t", v1, v1 + 1) is None
    changes = publish.read_changes(spark, root, "t", v1, v1 + 1, keys=["id"])
    assert _rows(changes) == {(2, "b", 99.0, "update")}
    # a compact RESTORES the fast path for later spans
    publish.compact(spark, root, "t")
    v3 = publish.current_manifest(root)["version"]
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(5, "e", 50.0)],
                              "id bigint, name string, val double"),
    )
    assert publish._bridged_delta_suffix(root, "t", v3, v3 + 1) is not None


def test_partial_update_scan_predicate_on_overlaid_column(spark, tmp_path):
    """scan_table with a predicate on an OVERLAID column must not prune
    base files by their stale stored values: the overlay can move a row
    into (or out of) the predicate."""
    root = str(tmp_path / "store")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("val")
    ).repartition(4, "k")
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["k"]})
    publish.merge_into_mor(  # push low keys' val ABOVE the cut
        spark, root, "t",
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") + 1000.0).alias("val")),
        partial_update=True, insert_new=False,
    )
    got = publish.scan_table(spark, root, "t", [("val", ">", 500.0)])
    assert {r["k"] for r in got.collect()} == set(range(5))
    # and a predicate on a NON-overlaid column still scans correctly
    got = publish.scan_table(spark, root, "t", [("k", "=", 3)])
    assert [(r["k"], r["val"]) for r in got.collect()] == [(3, 1003.0)]


def test_partial_update_through_column_mapping(spark, tmp_path):
    """Partial staging arrives in LOGICAL names; the narrow delta is
    written in physical names and reads back logically."""
    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "val", "score")
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, 77.0)], "id long, score double"),
        partial_update=True, insert_new=False,
    )
    got = {r["id"]: (r["name"], r["score"])
           for r in publish.read_table(spark, root, "t").collect()}
    assert got[1] == ("a", 77.0) and got[2] == ("b", 20.0)


def test_partial_update_in_multi_table_txn(spark, tmp_path):
    """merge_many_mor accepts partial_update specs — a partial overlay
    and a full merge land as ONE atomic version."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"a": spark.createDataFrame([(1, 10, "x")], "k long, v long, t string"),
         "b": spark.createDataFrame([(1, 5)], "k long, n long")},
        root, table_keys={"a": ["k"], "b": ["k"]},
    )
    v0 = publish.current_manifest(root)["version"]
    publish.merge_many_mor(spark, root, {
        "a": {"staging": spark.createDataFrame([(1, 99)], "k long, v long"),
              "partial_update": True, "insert_new": False},
        "b": {"staging": spark.createDataFrame([(2, 7)], "k long, n long")},
    })
    assert publish.current_manifest(root)["version"] == v0 + 1
    got_a = {r["k"]: (r["v"], r["t"])
             for r in publish.read_table(spark, root, "a").collect()}
    assert got_a == {1: (99, "x")}
    assert publish.read_table(spark, root, "b").count() == 2


def test_partial_update_respects_covered_constraints(spark, tmp_path):
    """Row-local constraints whose columns the partial batch SETS are
    enforced; specs over unset columns cannot newly break and are
    skipped (the CoW partial-staging contract)."""
    root = _store(spark, tmp_path)
    publish.set_constraints(root, "t", [
        ["range", "val", 0, 100], ["not_null", "name"],
    ])
    with pytest.raises(publish.ValidationError, match="outside"):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, 9999.0)], "id long, val double"),
            partial_update=True, insert_new=False,
        )
    # name not staged: its not_null spec is not evaluable and not broken
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, 42.0)], "id long, val double"),
        partial_update=True, insert_new=False,
    )
    assert publish.read_table(spark, root, "t").filter(
        (F.col("id") == 1) & (F.col("val") == 42.0)
    ).count() == 1


def test_partial_update_refuses_quarantine_mode(spark, tmp_path):
    """Quarantined partial rows would lose their unset columns on the
    requeue drain — refused up front."""
    root = _store(spark, tmp_path)
    publish.set_constraints(
        root, "t", [["range", "val", 0, 100]], on_violation="quarantine"
    )
    with pytest.raises(ValueError, match="quarantine mode"):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, 42.0)], "id long, val double"),
            partial_update=True, insert_new=False,
        )


def test_partial_reconstruction_plan_keeps_base_shuffle_free(spark, tmp_path):
    """The partial overlay must not change the reconstruction's scale
    shape: the base side joins by BROADCAST (anti against full-delta
    keys, left outer against the per-key overlay) — no SortMergeJoin,
    no base Exchange."""
    root = str(tmp_path / "store")
    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("val"),
        F.lit("x").alias("tag"),
    )
    publish.publish_tables(spark, {"t": base}, root, table_keys={"t": ["k"]})
    publish.merge_into_mor(
        spark, root, "t",
        spark.range(5).select(F.col("id").alias("k"),
                              (F.col("id") + 0.5).alias("val"),
                              F.lit("y").alias("tag")),
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.range(3).select(F.col("id").alias("k"),
                              F.lit("z").alias("tag")),
        partial_update=True, insert_new=False,
    )
    plan = (
        publish.read_table(spark, root, "t")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2  # anti + overlay joins
