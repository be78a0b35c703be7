"""Per-file Bloom-filter data skipping for the versioned store.

Min/max stats prune nothing for a point lookup on a high-cardinality
column that isn't clustered (every append-ordered file spans the whole
domain); a Bloom filter proves absence regardless of ordering — Delta's
Bloom index / Parquet bloom pages role, living beside _STATS.json.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.plans import publish


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _seed(spark, tmp_path, n=10_000, files=8):
    """n rows hash-scattered across `files` files: every file's [min, max]
    on `uid` spans the domain, so min/max skipping is useless."""
    root = str(tmp_path / "store")
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("uid"),
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("name"),
        )
        .repartition(files, "name")  # scatter: uid ranges overlap per file
    )
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["uid"]})
    return root


def test_position_parity(spark):
    """The Python-side hash positions must equal the Spark-side expression
    for every probed value — the correctness backbone of the index
    (Kirsch-Mitzenmacher double hashing on both sides)."""
    m, k = 16384, 5

    def digest_mod(suffix, modulus):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("v").cast("string"), F.lit(suffix))),
                    1, 15,
                ),
                16, 10,
            ).cast("long"),
            F.lit(modulus),
        )

    h1 = digest_mod("#h1", m)
    h2 = digest_mod("#h2", m - 1) + F.lit(1)
    exprs = [
        F.pmod(h1 + F.lit(i) * h2, F.lit(m)).alias(f"p{i}") for i in range(k)
    ]
    values = [0, 1, 42, 999_999_999_999, "hello", "u123", ""]
    df = spark.createDataFrame([(str(v),) for v in values], ["v"]).select(
        "v", *exprs
    )
    for r in df.collect():
        expected = publish._bloom_positions_py(r["v"], k, m)
        assert [r[f"p{i}"] for i in range(k)] == expected


def test_bloom_prunes_point_lookup_where_minmax_cannot(spark, tmp_path):
    root = _seed(spark, tmp_path)
    # min/max alone: no file excluded for a mid-domain point lookup
    kept_mm, total = publish.prune_files(root, "t", [("uid", "=", 4321)])
    assert total == 8 and len(kept_mm) == total

    publish.write_bloom_sidecar(spark, root, "t", ["uid"], fpp=0.001)
    kept, total = publish.prune_files(root, "t", [("uid", "=", 4321)])
    assert len(kept) < total  # bloom actually skipped files
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 4321)])
    assert _rows(got) == {(4321, "u4321")}


def test_bloom_never_false_negative(spark, tmp_path):
    """Every present value must survive pruning (Bloom errors are one-
    sided): probe a spread of existing keys and verify exact results."""
    root = _seed(spark, tmp_path, n=2000)
    publish.write_bloom_sidecar(spark, root, "t", ["uid", "name"], fpp=0.01)
    for uid in (0, 1, 777, 1337, 1999):
        got = publish.scan_table(spark, root, "t", where=[("uid", "=", uid)])
        assert _rows(got) == {(uid, f"u{uid}")}, uid
    # string column too
    got = publish.scan_table(spark, root, "t", where=[("name", "=", "u55")])
    assert _rows(got) == {(55, "u55")}


def test_bloom_absent_value_prunes_everything_or_near(spark, tmp_path):
    root = _seed(spark, tmp_path, n=2000)
    publish.write_bloom_sidecar(spark, root, "t", ["uid"], fpp=0.001)
    kept, total = publish.prune_files(root, "t", [("uid", "=", 10_000_000)])
    assert len(kept) <= 1  # fpp-bounded false positives at most
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 10_000_000)])
    assert got.count() == 0


def test_bloom_in_predicate(spark, tmp_path):
    root = _seed(spark, tmp_path, n=2000)
    publish.write_bloom_sidecar(spark, root, "t", ["uid"], fpp=0.001)
    got = publish.scan_table(
        spark, root, "t", where=[("uid", "in", [3, 999, 5_555_555])]
    )
    assert _rows(got) == {(3, "u3"), (999, "u999")}
    kept_narrow, _ = publish.prune_files(root, "t", [("uid", "in", [3])])
    kept_wide, total = publish.prune_files(
        root, "t", [("uid", "in", list(range(0, 2000, 7)))]
    )
    assert len(kept_narrow) <= len(kept_wide) <= total


def test_bloom_composes_with_mor_deltas(spark, tmp_path):
    """Bloom pruning touches only the base; a merge-on-read delta row for
    a key the bloom would prune must still be found."""
    root = _seed(spark, tmp_path, n=2000)
    publish.write_bloom_sidecar(spark, root, "t", ["uid"], fpp=0.001)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(5_000_000, "new")], "uid bigint, name string"),
    )
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 5_000_000)])
    assert _rows(got) == {(5_000_000, "new")}
    # updated-in-delta row: base bloom keeps its old file, delta overrides
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(777, "updated")], "uid bigint, name string"),
    )
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 777)])
    assert _rows(got) == {(777, "updated")}


def test_bloom_rejects_unstable_types(spark, tmp_path):
    root = str(tmp_path / "store")
    df = spark.range(10).select(F.col("id"), F.rand(7).alias("x"))
    publish.publish_tables(spark, {"t": df}, root)
    with pytest.raises(ValueError):
        publish.write_bloom_sidecar(spark, root, "t", ["x"])
    with pytest.raises(ValueError):
        publish.write_bloom_sidecar(spark, root, "t", ["missing"])


def test_compact_sheds_stale_bloom(spark, tmp_path):
    """The sidecar lives inside the data dir — a compact rewrite points
    the entry at a fresh dir with no bloom, never at stale bitmaps."""
    root = _seed(spark, tmp_path, n=500)
    publish.write_bloom_sidecar(spark, root, "t", ["uid"])
    publish.compact(spark, root, "t")
    entry = publish.current_manifest(root)["tables"]["t"]
    assert not os.path.exists(os.path.join(entry["path"], publish.BLOOM_FILE))
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 5)])
    assert _rows(got) == {(5, "u5")}


def test_bloom_build_is_executor_side_and_metadata_sharded(spark, tmp_path):
    """The round-4 build collected every file's bit-position SET to the
    driver (40x the index size -- an OOM at 100 TB file counts).  Pin the
    rebuilt shape: bitmaps are packed in the cluster (mapInPandas partial
    pack + applyInPandas OR-merge), the build plan contains NO position
    collect_set, the bitmaps live in a sharded parquet index, and
    _BLOOM.json stays O(columns) bytes regardless of file count."""
    root = _seed(spark, tmp_path, n=2000, files=6)
    entry = publish.current_manifest(root)["tables"]["t"]
    path = entry["path"]

    # plan shape of the distributed build
    base = spark.read.parquet(path)
    params = {"uid": publish._bloom_params(250, 0.01)}
    plan = (
        publish._bloom_index_df(base, path, ["uid"], params)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "collect_set" not in plan
    assert "MapInPandas" in plan          # map-side partial pack
    assert "FlatMapGroupsInPandas" in plan  # per-file OR-merge

    publish.write_bloom_sidecar(spark, root, "t", ["uid", "name"])
    sidecar_path = os.path.join(path, publish.BLOOM_FILE)
    # metadata json holds only (m, k) sizing -- tiny at ANY file count
    assert os.path.getsize(sidecar_path) < 1024
    import json as _json

    with open(sidecar_path) as fh:
        bloom = _json.load(fh)
    assert bloom["format"] == "parquet"
    index_dir = os.path.join(path, bloom["dir"])
    assert bloom["dir"].startswith("_bloom-") and os.path.isdir(index_dir)

    # the sharded index holds one packed bitmap per (col, file), each
    # exactly m/8 bytes -- O(index) total, nothing driver-assembled
    import pyarrow.dataset as ds

    tbl = ds.dataset(index_dir, format="parquet").to_table()
    m = bloom["columns"]["uid"]["m"]
    per_col = {}
    for col, bm in zip(
        tbl.column("col").to_pylist(), tbl.column("bitmap").to_pylist()
    ):
        per_col.setdefault(col, []).append(len(bm))
    assert set(per_col) == {"uid", "name"}
    assert all(ln == (m + 7) // 8 for ln in per_col["uid"])
    assert len(per_col["uid"]) == 6  # one bitmap per data file

    # the index parquet must NOT be mistaken for table data
    assert len(publish._data_files(path)) == 6
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 77)])
    assert _rows(got) == {(77, "u77")}


def test_explain_skipping_reports_mechanism_per_file(spark, tmp_path):
    """prune_files attributes each skipped file to one mechanism: a file
    min/max keeps but the Bloom sidecar drops was proved absent by Bloom;
    with no sidecar on the table, every skip is the min/max range's."""
    root = _seed(spark, tmp_path, n=2000)

    # in-domain point lookup: every hash-scattered file's [min, max]
    # covers it (min/max prunes nothing), so every skip is Bloom's
    where = [("uid", "=", 777)]
    minmax_kept, total = publish.prune_files(root, "t", where)
    assert len(minmax_kept) == total
    publish.write_bloom_sidecar(spark, root, "t", ["uid"], fpp=0.001)
    kept, total_with_bloom = publish.prune_files(root, "t", where)
    assert total_with_bloom == total
    assert 1 <= len(kept) < total
    assert set(kept) <= set(minmax_kept)

    # after a sorted rewrite the range itself prunes
    publish.recluster(spark, root, "t", ["uid"], max_overlap=1.5,
                      target_files=8)
    path = publish.current_manifest(root)["tables"]["t"]["path"]
    assert not os.path.exists(os.path.join(path, publish.BLOOM_FILE))
    kept, total = publish.prune_files(root, "t", [("uid", "<", 200)])
    assert len(kept) < total


def test_refresh_bloom_covers_appended_delta_files(spark, tmp_path):
    """Round 7 incremental Bloom maintenance: after merge_into_mor
    appends, refresh_bloom_sidecar packs bitmaps for ONLY the new delta
    files (scan-source-pinned), point lookups on the KEY column then
    prune untouched delta dirs, and a second refresh is a metadata noop."""
    root = _seed(spark, tmp_path, n=4000, files=8)
    publish.write_bloom_sidecar(spark, root, "t", ["uid"])

    def _merge(uids):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame(
                [(u, f"upd{u}") for u in uids], "uid bigint, name string"
            ),
        )

    _merge([10, 11])      # delta 1
    _merge([5000, 5001])  # delta 2 (fresh keys)
    _merge([20, 21])      # delta 3

    scanned: list = []
    orig = publish._bloom_index_df

    def spy(base, path, columns, params):
        scanned.extend(base.inputFiles())
        return orig(base, path, columns, params)

    entry = publish.current_manifest(root)["tables"]["t"]
    delta_files = {
        d["path"]: {os.path.abspath(f) for f in publish._data_files(d["path"])}
        for d in entry["deltas"]
    }
    base_files = {os.path.abspath(f) for f in publish._data_files(entry["path"])}
    try:
        publish._bloom_index_df = spy
        res = publish.refresh_bloom_sidecar(spark, root, "t", ["uid"])
    finally:
        publish._bloom_index_df = orig
    assert res["mode"] == "refresh"
    assert res["added_files"] == sum(len(v) for v in delta_files.values())
    got_scanned = {os.path.abspath(f.removeprefix("file:")) for f in scanned}
    # only NEW delta files are scanned — and empty part files not even
    # those (they join the index as stats-derived zero bitmaps)
    assert got_scanned
    assert got_scanned <= set().union(*delta_files.values())
    assert not (got_scanned & base_files), "base files were re-scanned"

    # point lookup on the KEY column: result exact, and the plan opens
    # ONLY the delta dir that can hold the key (plus the pruned base)
    got = publish.scan_table(spark, root, "t", where=[("uid", "=", 5000)])
    assert _rows(got) == {(5000, "upd5000")}
    opened = {os.path.abspath(f.removeprefix("file:")) for f in got.inputFiles()}
    d1, d2, d3 = (delta_files[d["path"]] for d in entry["deltas"])
    assert opened & d2
    assert not (opened & d1) and not (opened & d3), "untouched deltas opened"

    # non-key probes must NOT prune delta dirs (a delta can rewrite
    # non-key values) — correctness over freshly-updated rows holds
    got = publish.scan_table(spark, root, "t", where=[("name", "=", "upd10")])
    assert _rows(got) == {(10, "upd10")}

    # idempotent: nothing new → noop, no Spark job
    res2 = publish.refresh_bloom_sidecar(spark, root, "t", ["uid"])
    assert res2 == {"mode": "noop", "added_files": 0, "columns": res["columns"]}

    # maintain_store tops up non-rewritten tables incrementally
    _merge([30, 31])  # delta 4
    report = publish.maintain_store(
        spark, root, max_deltas=100, bloom_columns={"t": ["uid"]}
    )
    assert report["bloom_refreshed"]["t"]["mode"] == "refresh"
    assert report["blooms"] == []  # no rewrite happened


def test_refresh_bloom_rebuilds_when_index_missing(spark, tmp_path):
    """refresh on a table with no index (or a rewritten one) falls back
    to the full build, so maintain_store(bloom_columns=...) is
    self-sufficient."""
    root = _seed(spark, tmp_path, n=2000, files=4)
    res = publish.refresh_bloom_sidecar(spark, root, "t", ["uid"])
    assert res["mode"] == "rebuild" and res["added_files"] == 4
    kept, total = publish.prune_files(root, "t", [("uid", "=", 7)])
    assert total == 4 and len(kept) <= 2
