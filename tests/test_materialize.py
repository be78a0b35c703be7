"""Incremental view maintenance (plans/materialize.py): COUNT/SUM
aggregate tables maintained from the versioned store's CDC feed in
O(delta), provably equal to recomputing from the full source."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.plans import materialize, publish

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _recompute(spark, root, src, group, sums):
    return materialize.aggregate_table(
        publish.read_table(spark, root, src), group, sums
    )


def test_maintain_aggregate_equals_recompute_across_versions(spark, tmp_path):
    """Seed + two delta refreshes over versions exercising inserts,
    deletes, value updates, group MOVES, and nulls — after every refresh
    the maintained table equals the direct recompute."""
    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", 30.0), (4, "b", 40.0)],
        "id bigint, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})

    res = materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )
    assert res["mode"] == "seed"
    assert _rows(publish.read_table(spark, root, "t_agg")) == _rows(
        _recompute(spark, root, "t", ["grp"], ["val"])
    )

    # v2: delete id=1, update id=2's value (null -> 5), MOVE id=3 to grp a,
    # insert id=5 in a new group
    v2 = spark.createDataFrame(
        [(2, "a", 5.0), (3, "a", 30.0), (4, "b", 40.0), (5, "c", 50.0)],
        "id bigint, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v2}, root)
    res = materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "t_agg"))
    assert got == _rows(_recompute(spark, root, "t", ["grp"], ["val"]))
    assert got == sorted([("a", 2, 35.0), ("b", 1, 40.0), ("c", 1, 50.0)])

    # v3: empty out group c entirely — the group must DROP, not linger at 0
    v3 = v2.filter(F.col("id") != 5)
    publish.publish_tables(spark, {"t": v3}, root)
    materialize.maintain_aggregate(spark, root, "t", "t_agg", ["grp"], ["val"])
    got = _rows(publish.read_table(spark, root, "t_agg"))
    assert got == _rows(_recompute(spark, root, "t", ["grp"], ["val"]))
    assert all(g != "c" for g, *_ in got)

    # our own t_agg publish advanced the store, so the next refresh sees
    # an empty src delta (cheap watermark advance); after THAT, a refresh
    # with no store movement at all is a pure noop
    assert materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )["mode"] == "empty"
    assert materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )["mode"] == "noop"
    # a store-only advance from an unrelated table is likewise empty
    publish.publish_tables(
        spark, {"other": spark.createDataFrame([(1,)], "x bigint")}, root
    )
    assert materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )["mode"] == "empty"


def test_maintain_aggregate_reseeds_after_vacuum(spark, tmp_path):
    root = str(tmp_path / "store")
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)],
                               "id bigint, grp string, val double")
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["id"]})
    materialize.maintain_aggregate(spark, root, "t", "t_agg", ["grp"], ["val"])
    for i in range(3, 6):
        publish.publish_tables(
            spark,
            {"t": df.union(spark.createDataFrame(
                [(i, "a", float(i))], "id bigint, grp string, val double"))},
            root,
        )
    publish.vacuum(spark, root, keep_versions=1)  # consumed-from version gone
    res = materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )
    assert res["mode"] == "seed"
    assert _rows(publish.read_table(spark, root, "t_agg")) == _rows(
        _recompute(spark, root, "t", ["grp"], ["val"])
    )


def test_diff_frames_include_old_columns(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, v string")
    b = spark.createDataFrame([(2, "Y"), (3, "z")], "id bigint, v string")
    d = publish.diff_frames(a, b, ["id"], include_old=True)
    rows = {r["id"]: r for r in d.collect()}
    assert set(d.columns) == {"id", "v", "id__old", "v__old", "change_type"}
    assert rows[1]["change_type"] == "delete" and rows[1]["v__old"] == "x" and rows[1]["v"] == "x"
    assert rows[2]["change_type"] == "update" and rows[2]["v__old"] == "y" and rows[2]["v"] == "Y"
    assert rows[3]["change_type"] == "insert" and rows[3]["v__old"] is None and rows[3]["v"] == "z"


def test_maintain_min_max_with_targeted_recompute(spark, tmp_path):
    """MIN/MAX maintenance: inserts fold in via least/greatest; deleting
    or moving the extremum triggers the per-group recompute path; every
    refresh equals the direct recompute."""
    root = str(tmp_path / "store")

    def rec(src="t"):
        return materialize.aggregate_table(
            publish.read_table(spark, root, src), ["grp"], ["val"],
            min_cols=["val"], max_cols=["val"],
        )

    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 50.0), (3, "b", 5.0), (4, "b", None)],
        "id bigint, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})
    materialize.maintain_aggregate(
        spark, root, "t", "mm", ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"],
    )
    assert _rows(publish.read_table(spark, root, "mm")) == _rows(rec())

    # v2: delete the max of group a (50) -> recompute path; insert a new
    # global min into b (cheap path); update id=1 to a new max (cheap)
    v2 = spark.createDataFrame(
        [(1, "a", 60.0), (3, "b", 5.0), (4, "b", None), (5, "b", 1.0)],
        "id bigint, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v2}, root)
    res = materialize.maintain_aggregate(
        spark, root, "t", "mm", ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"],
    )
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "mm"))
    assert got == _rows(rec())
    assert got == sorted([("a", 1, 60.0, 60.0, 60.0), ("b", 3, 6.0, 1.0, 5.0)])

    # v3: delete the only non-null values of b -> min/max must go NULL
    v3 = v2.filter(~F.col("id").isin(3, 5))
    publish.publish_tables(spark, {"t": v3}, root)
    materialize.maintain_aggregate(
        spark, root, "t", "mm", ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"],
    )
    got = _rows(publish.read_table(spark, root, "mm"))
    assert got == _rows(rec())
    b_row = [r for r in got if r[0] == "b"][0]
    assert b_row[1] == 1 and b_row[3] is None and b_row[4] is None


def test_maintain_with_null_group_values(spark, tmp_path):
    """A NULL group value is one group (SQL GROUP BY semantics): the merge
    must fold its delta into the existing NULL-group row, not split it —
    pinned because a join on the raw group columns would never match
    NULL = NULL."""
    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "b", 30.0)],
        "id bigint, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})
    materialize.maintain_aggregate(
        spark, root, "t", "agg", ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"],
    )
    # delete the NULL group's min, insert another NULL-group row
    v2 = spark.createDataFrame(
        [(2, None, 20.0), (3, "b", 30.0), (4, None, 40.0)],
        "id bigint, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v2}, root)
    materialize.maintain_aggregate(
        spark, root, "t", "agg", ["grp"], ["val"],
        min_cols=["val"], max_cols=["val"],
    )
    got = {tuple(r) for r in publish.read_table(spark, root, "agg").collect()}
    expect = {
        tuple(r)
        for r in materialize.aggregate_table(
            publish.read_table(spark, root, "t"), ["grp"], ["val"],
            min_cols=["val"], max_cols=["val"],
        ).collect()
    }
    assert got == expect
    null_rows = [r for r in got if r[0] is None]
    assert len(null_rows) == 1 and null_rows[0][1] == 2
    assert null_rows[0][3] == 20.0 and null_rows[0][4] == 40.0


def test_maintain_distinct_hll_sketches(spark, tmp_path):
    """distinct_cols maintenance: insert-only refreshes ride the sketch
    union (no source recompute needed for correctness of the estimate);
    any retraction triggers the per-group recompute.  Every refresh's
    ESTIMATES equal the direct-recompute estimates (sketch binaries may
    differ by merge order; estimates must not)."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    root = str(tmp_path / "store")

    def est(df):
        return _rows(
            materialize.estimate_distinct(df, ["val"]).select(
                "grp", "cnt", "approx_distinct_val"
            )
        )

    def rec():
        return materialize.aggregate_table(
            publish.read_table(spark, root, "t"), ["grp"], [],
            distinct_cols=["val"],
        )

    v1 = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", f"u{i % 7}") for i in range(1, 40)],
        "id bigint, grp string, val string",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})
    materialize.maintain_aggregate(
        spark, root, "t", "dv", ["grp"], [], distinct_cols=["val"]
    )
    assert est(publish.read_table(spark, root, "dv")) == est(rec())

    # v2: pure inserts with NEW distinct values -> union path
    v2 = v1.unionByName(
        spark.createDataFrame(
            [(100 + i, "a", f"w{i}") for i in range(5)],
            "id bigint, grp string, val string",
        )
    )
    publish.publish_tables(spark, {"t": v2}, root)
    res = materialize.maintain_aggregate(
        spark, root, "t", "dv", ["grp"], [], distinct_cols=["val"]
    )
    assert res["mode"] == "delta"
    got = est(publish.read_table(spark, root, "dv"))
    assert got == est(rec())
    a_row = [r for r in got if r[0] == "a"][0]
    assert a_row[2] == 12  # 7 u-values + 5 w-values, HLL exact at this scale

    # v3: delete every w-value and some u rows -> recompute path for a
    v3 = v2.filter(~F.col("val").startswith("w")).filter(F.col("id") != 1)
    publish.publish_tables(spark, {"t": v3}, root)
    materialize.maintain_aggregate(
        spark, root, "t", "dv", ["grp"], [], distinct_cols=["val"]
    )
    got = est(publish.read_table(spark, root, "dv"))
    assert got == est(rec())
    a_row = [r for r in got if r[0] == "a"][0]
    assert a_row[2] == 7  # back to the u-values only


def test_maintain_distinct_composes_with_sum_minmax(spark, tmp_path):
    """All three non-self-maintainable families in ONE view refresh."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0, "x"), (2, "a", 20.0, "y"), (3, "b", 30.0, "x")],
        "id bigint, grp string, val double, tag string",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})
    kw = dict(
        sum_cols=["val"], min_cols=["val"], max_cols=["val"],
        distinct_cols=["tag"],
    )
    materialize.maintain_aggregate(spark, root, "t", "mv", ["grp"], **kw)
    v2 = spark.createDataFrame(
        [(2, "a", 25.0, "y"), (3, "b", 30.0, "x"), (4, "b", 1.0, "z")],
        "id bigint, grp string, val double, tag string",
    )
    publish.publish_tables(spark, {"t": v2}, root)
    materialize.maintain_aggregate(spark, root, "t", "mv", ["grp"], **kw)
    got = _rows(
        materialize.estimate_distinct(
            publish.read_table(spark, root, "mv"), ["tag"]
        )
    )
    expected = _rows(
        materialize.estimate_distinct(
            materialize.aggregate_table(
                publish.read_table(spark, root, "t"), ["grp"], ["val"],
                min_cols=["val"], max_cols=["val"], distinct_cols=["tag"],
            ),
            ["tag"],
        )
    )
    assert got == expected


# --- join-view maintenance (round 4) ---------------------------------------


def _join_recompute(spark, root, **kw):
    return materialize.join_view(
        publish.read_table(spark, root, "fact"),
        publish.read_table(spark, root, "dim"),
        **kw,
    )


def _seed_join_store(spark, root):
    fact = spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0), (3, 20, 3.0), (4, 99, 4.0), (5, None, 5.0)],
        "id bigint, fk int, val double",
    )
    dim = spark.createDataFrame(
        [(10, "ten"), (20, "twenty"), (30, "thirty")], "dk int, name string"
    )
    publish.publish_tables(
        spark, {"fact": fact, "dim": dim}, root,
        table_keys={"fact": ["id"], "dim": ["dk"]},
    )


def test_maintain_join_seed_then_both_side_deltas(spark, tmp_path):
    """Seed a left fact-dim view, then change BOTH sides in one version —
    fact insert/delete/value-update/FK-move, dim value-update/delete/insert
    (the insert matching a previously-dangling FK) — one delta refresh must
    equal the direct join of the new version."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    kw = dict(fk="fk", dim_key="dk", how="left")
    res = materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    assert res["mode"] == "seed"
    assert _rows(publish.read_table(spark, root, "v")) == _rows(
        _join_recompute(spark, root, **kw)
    )

    # fact: delete id=1, move id=3's FK 20->10, update id=4's val,
    #       insert id=6 -> 30; dim: rename 10, delete 20, insert 99
    # (id=4's FK 99 was dangling and now resolves via the dim-change path)
    fact2 = spark.createDataFrame(
        [(2, 10, 2.0), (3, 10, 3.0), (4, 99, 44.0), (5, None, 5.0), (6, 30, 6.0)],
        "id bigint, fk int, val double",
    )
    dim2 = spark.createDataFrame(
        [(10, "TEN"), (30, "thirty"), (99, "found")], "dk int, name string"
    )
    publish.publish_tables(spark, {"fact": fact2, "dim": dim2}, root)
    res = materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "v"))
    assert got == _rows(_join_recompute(spark, root, **kw))
    assert (5, None, 5.0, None) in got          # dangling FK keeps null dim
    assert (4, 99, 44.0, "found") in got        # dim insert resolved it


def test_maintain_join_dim_only_delta_scopes_fact_rows(spark, tmp_path):
    """A dim-only change refreshes exactly the fact rows referencing the
    changed dim keys: mode is delta and the result matches recompute."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    kw = dict(fk="fk", dim_key="dk", how="left")
    materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    dim2 = spark.createDataFrame(
        [(10, "TEN"), (20, "twenty"), (30, "thirty")], "dk int, name string"
    )
    publish.publish_tables(spark, {"dim": dim2}, root)
    res = materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "v"))
    assert got == _rows(_join_recompute(spark, root, **kw))
    assert (1, 10, 1.0, "TEN") in got and (3, 20, 3.0, "twenty") in got


def test_maintain_join_inner_and_modes(spark, tmp_path):
    """Inner-join views drop unmatched fact rows through seed and delta;
    an unchanged store answers noop, an unrelated-table publish answers
    empty (watermark advances, no rewrite)."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    kw = dict(fk="fk", dim_key="dk", how="inner")
    materialize.maintain_join(spark, root, "fact", "dim", "vi", **kw)
    got = _rows(publish.read_table(spark, root, "vi"))
    assert got == _rows(_join_recompute(spark, root, **kw))
    assert all(r[3] is not None for r in got) and len(got) == 3

    # the seed's own publish advanced the store, so the next call advances
    # the watermark over an empty delta; only then does the store read noop
    res = materialize.maintain_join(spark, root, "fact", "dim", "vi", **kw)
    assert res["mode"] == "empty"
    res = materialize.maintain_join(spark, root, "fact", "dim", "vi", **kw)
    assert res["mode"] == "noop"

    other = spark.createDataFrame([(1,)], "x int")
    publish.publish_tables(spark, {"other": other}, root)
    res = materialize.maintain_join(spark, root, "fact", "dim", "vi", **kw)
    assert res["mode"] == "empty"
    assert _rows(publish.read_table(spark, root, "vi")) == got


def test_maintain_join_reseeds_after_vacuum(spark, tmp_path):
    """When the consumed-from version was vacuumed out of history the
    delta is unrecoverable — maintain_join falls back to a full re-seed."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    kw = dict(fk="fk", dim_key="dk", how="left")
    materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    for i in range(3):
        f = spark.createDataFrame([(1, 10, float(i))], "id bigint, fk int, val double")
        publish.publish_tables(spark, {"fact": f}, root)
    publish.vacuum(spark, root, keep_versions=1)
    res = materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    assert res["mode"] == "seed"
    assert _rows(publish.read_table(spark, root, "v")) == _rows(
        _join_recompute(spark, root, **kw)
    )


def test_apply_join_delta_null_safe_fact_keys(spark):
    """Fact keys containing nulls still anti/semi-join through the struct
    key (a raw-column join would drop them from the rebuild)."""
    fact1 = spark.createDataFrame(
        [(None, 10, 1.0), (2, 20, 2.0)], "id bigint, fk int, val double"
    )
    fact2 = spark.createDataFrame(
        [(None, 20, 9.0), (2, 20, 2.0)], "id bigint, fk int, val double"
    )
    dim = spark.createDataFrame([(10, "ten"), (20, "twenty")], "dk int, name string")
    view1 = materialize.join_view(fact1, dim, "fk", "dk")
    changes = publish.diff_frames(fact1, fact2, ["id"])
    got = materialize.apply_join_delta(
        view1, fact2, dim, changes, None, ["id"], "fk", "dk"
    )
    from collections import Counter

    expected = materialize.join_view(fact2, dim, "fk", "dk")
    assert Counter(tuple(r) for r in got.collect()) == Counter(
        tuple(r) for r in expected.collect()
    )


def test_apply_join_delta_counted_dim_gate_both_directions(spark):
    """dim_changed_count (round 14) replaces the changed-dim-key
    persist+count with a byte gate over the bound 2 × count: the refresh
    result must equal the direct recompute whether the bound ALLOWS the
    broadcast (small count) or DECLINES it (count forced over the
    limit via a tiny broadcast_max_bytes)."""
    from collections import Counter

    fact = spark.createDataFrame(
        [(1, 10, 1.0), (2, 20, 2.0), (3, 20, 3.0)],
        "id bigint, fk int, val double",
    )
    dim1 = spark.createDataFrame(
        [(10, "ten"), (20, "twenty")], "dk int, name string"
    )
    dim2 = spark.createDataFrame(
        [(10, "TEN"), (20, "twenty")], "dk int, name string"
    )
    view1 = materialize.join_view(fact, dim1, "fk", "dk")
    dim_changes = publish.diff_frames(dim1, dim2, ["dk"], include_old=True)
    n_dim = dim_changes.count()
    expected = Counter(
        tuple(r)
        for r in materialize.join_view(fact, dim2, "fk", "dk").collect()
    )
    for max_bytes in (64 * 1024 * 1024, 1):  # gate allows, gate declines
        got = materialize.apply_join_delta(
            view1, fact, dim2, None, dim_changes, ["id"], "fk", "dk",
            broadcast_max_bytes=max_bytes, dim_changed_count=n_dim,
        )
        assert Counter(tuple(r) for r in got.collect()) == expected


def test_join_view_rejects_collisions_and_bad_how(spark):
    fact = spark.createDataFrame([(1, 10, "x")], "id bigint, fk int, name string")
    dim = spark.createDataFrame([(10, "ten")], "dk int, name string")
    with pytest.raises(ValueError, match="collide"):
        materialize.join_view(fact, dim, "fk", "dk")
    with pytest.raises(ValueError, match="how"):
        materialize.join_view(fact, dim.withColumnRenamed("name", "dname"),
                              "fk", "dk", how="cross")


def test_maintain_store_refreshes_views_before_vacuum(spark, tmp_path):
    """The policy pass (publish.maintain_store refresh_views=) refreshes
    maintained views FIRST, so they consume the CDC chain before vacuum
    prunes it; a malformed spec records an error without blocking the
    others or the rest of the pass."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    materialize.maintain_aggregate(spark, root, "fact", "by_fk", ["fk"], ["val"])
    materialize.maintain_join(spark, root, "fact", "dim", "wide", fk="fk",
                              dim_key="dk")
    fact2 = spark.createDataFrame(
        [(1, 20, 11.0), (2, 10, 2.0), (6, 30, 6.0)],
        "id bigint, fk int, val double",
    )
    publish.publish_tables(spark, {"fact": fact2}, root)

    report = publish.maintain_store(
        spark, root, keep_versions=1,
        refresh_views=[
            {"kind": "aggregate", "src": "fact", "dst": "by_fk",
             "group_cols": ["fk"], "sum_cols": ["val"]},
            {"kind": "join", "fact": "fact", "dim": "dim", "dst": "wide",
             "fk": "fk", "dim_key": "dk"},
            {"kind": "bogus", "dst": "nope"},
        ],
    )
    assert report["views"]["by_fk"]["mode"] == "delta"
    assert report["views"]["wide"]["mode"] == "delta"
    assert "view:nope" in report["errors"] and "bogus" in report["errors"]["view:nope"]
    # both views current despite history being vacuumed afterwards
    assert _rows(publish.read_table(spark, root, "by_fk")) == _rows(
        materialize.aggregate_table(
            publish.read_table(spark, root, "fact"), ["fk"], ["val"]
        )
    )
    assert _rows(publish.read_table(spark, root, "wide")) == _rows(
        _join_recompute(spark, root, fk="fk", dim_key="dk")
    )


# --- hypothesis: arbitrary fact/dim version chains vs direct recompute -----
from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_FIDS = st.integers(min_value=0, max_value=6)
_FKS = st.one_of(st.none(), st.integers(min_value=0, max_value=3))
_FACTS = st.lists(
    st.tuples(_FIDS, _FKS, st.integers(0, 50)),
    min_size=0, max_size=6, unique_by=lambda t: t[0],
)
_DIMS = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from(["a", "b", "c"])),
    min_size=0, max_size=4, unique_by=lambda t: t[0],
)
_CHAIN = st.lists(st.tuples(_FACTS, _DIMS), min_size=2, max_size=4)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(chain=_CHAIN)
def test_maintain_join_model_property(spark, tmp_path_factory, chain):
    """Model-based check: for ANY sequence of fact/dim versions (arbitrary
    inserts, deletes, FK moves — including to/from NULL — value updates,
    dim-row appearances and disappearances), refreshing the join view
    after each version equals the direct join of that version.  The seed
    version and every refresh ride the same public API the driver query
    uses."""
    root = str(tmp_path_factory.mktemp("joinprop") / "store")
    kw = dict(fk="fk", dim_key="dk", how="left")

    def frames(facts, dims):
        f = spark.createDataFrame(
            facts or [], "id bigint, fk int, val int"
        )
        d = spark.createDataFrame(dims or [], "dk int, name string")
        return f, d

    f0, d0 = frames(*chain[0])
    publish.publish_tables(
        spark, {"fact": f0, "dim": d0}, root,
        table_keys={"fact": ["id"], "dim": ["dk"]},
    )
    materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    assert _rows(publish.read_table(spark, root, "v")) == _rows(
        materialize.join_view(f0, d0, **kw)
    )
    for facts, dims in chain[1:]:
        f, d = frames(facts, dims)
        publish.publish_tables(spark, {"fact": f, "dim": d}, root)
        materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
        assert _rows(publish.read_table(spark, root, "v")) == _rows(
            materialize.join_view(f, d, **kw)
        )


def test_declared_views_refresh_through_maintain_store(spark, tmp_path):
    """View definitions declared INTO the store (materialize.declare_view)
    make the policy pass self-contained: maintain_store with no specs
    refreshes every declared view; dropping a declaration stops its
    refresh; redeclaring a dst overwrites."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    materialize.declare_view(
        root, "aggregate", src="fact", dst="by_fk",
        group_cols=["fk"], sum_cols=["val"],
    )
    materialize.declare_view(
        root, "join", fact="fact", dim="dim", dst="wide", fk="fk",
        dim_key="dk",
    )
    assert set(materialize.declared_views(root)) == {"by_fk", "wide"}

    report = publish.maintain_store(spark, root)
    assert report["views"]["by_fk"]["mode"] == "seed"
    assert report["views"]["wide"]["mode"] == "seed"
    assert not report["errors"]

    fact2 = spark.createDataFrame(
        [(1, 20, 11.0), (2, 10, 2.0)], "id bigint, fk int, val double"
    )
    publish.publish_tables(spark, {"fact": fact2}, root)
    report = publish.maintain_store(spark, root)
    assert report["views"]["by_fk"]["mode"] == "delta"
    assert report["views"]["wide"]["mode"] == "delta"
    assert _rows(publish.read_table(spark, root, "wide")) == _rows(
        _join_recompute(spark, root, fk="fk", dim_key="dk")
    )

    assert materialize.drop_view_declaration(root, "by_fk") is True
    assert materialize.drop_view_declaration(root, "by_fk") is False
    report = publish.maintain_store(spark, root)
    assert set(report["views"]) == {"wide"}
    # explicit empty spec list skips view refresh entirely
    report = publish.maintain_store(spark, root, refresh_views=())
    assert report["views"] == {}

    with pytest.raises(ValueError, match="kind"):
        materialize.declare_view(root, "bogus", dst="x")
    with pytest.raises(ValueError, match="dst"):
        materialize.declare_view(root, "join", fact="fact", dim="dim", fk="fk")


def test_maintain_join_over_mor_source(spark, tmp_path):
    """maintain_join composes with merge-on-read sources: fact versions
    written as MoR delta appends still refresh the view correctly —
    read_changes rides its O(delta) fast path underneath, so the refresh
    cost follows the delta, not the table."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    kw = dict(fk="fk", dim_key="dk", how="left")
    materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)

    publish.merge_into_mor(
        spark, root, "fact",
        spark.createDataFrame(
            [(2, 20, 22.0), (6, 30, 6.0)], "id bigint, fk int, val double"
        ),
    )
    res = materialize.maintain_join(spark, root, "fact", "dim", "v", **kw)
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "v"))
    assert got == _rows(_join_recompute(spark, root, **kw))
    assert (2, 20, 22.0, "twenty") in got and (6, 30, 6.0, "thirty") in got


def test_seed_pins_watermarked_version_under_concurrent_publish(
    spark, tmp_path, monkeypatch
):
    """A publish landing between maintain_aggregate's manifest capture and
    its seed scan must NOT leak into the seed: the watermark says version
    N, so a seed containing N+1 data would get the N->N+1 delta re-applied
    by the next refresh and silently double-count.  The seed reads
    read_table_at(src, src_version), which this race makes observable."""
    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id bigint, grp string, val double"
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})

    # fire a concurrent publish the moment maintain_aggregate asks for the
    # sync state -- i.e. AFTER it captured the manifest version, BEFORE the
    # seed scan runs
    real_sync = publish._sync_state
    fired = {"done": False}

    def racing_sync(r):
        state = real_sync(r)
        if not fired["done"]:
            fired["done"] = True
            v2 = spark.createDataFrame(
                [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 100.0)],
                "id bigint, grp string, val double",
            )
            publish.publish_tables(spark, {"t": v2}, root)
        return state

    monkeypatch.setattr(publish, "_sync_state", racing_sync)
    res = materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )
    assert res["mode"] == "seed"
    monkeypatch.setattr(publish, "_sync_state", real_sync)

    # the racing publish's row must be absent from the version-pinned seed
    assert _rows(publish.read_table(spark, root, "t_agg")) == sorted(
        [("a", 1, 10.0), ("b", 1, 20.0)]
    )

    # the next refresh applies the raced-in delta exactly once
    res = materialize.maintain_aggregate(
        spark, root, "t", "t_agg", ["grp"], ["val"]
    )
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "t_agg"))
    assert got == _rows(_recompute(spark, root, "t", ["grp"], ["val"]))
    assert got == sorted([("a", 2, 110.0), ("b", 1, 20.0)])


def test_declared_view_dag_refreshes_in_dependency_order(spark, tmp_path):
    """A view over another view's dst must refresh AFTER its upstream in
    the SAME pass.  The downstream view is named to sort alphabetically
    FIRST ('a_top' < 'z_base'), so the old sorted() iteration would leave
    it one pass stale — topological order makes one pass current."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    # z_base = fact ⋈ dim; a_top = SUM(val) per name over z_base
    materialize.declare_view(
        root, "join", fact="fact", dim="dim", dst="z_base", fk="fk",
        dim_key="dk",
    )
    materialize.declare_view(
        root, "aggregate", src="z_base", dst="a_top",
        group_cols=["name"], sum_cols=["val"],
    )

    report = materialize.refresh_declared_views(spark, root)
    assert not report["errors"]
    assert list(report["views"]) == ["z_base", "a_top"]  # dependency order

    def recompute_top():
        return materialize.aggregate_table(
            publish.read_table(spark, root, "z_base"), ["name"], ["val"]
        )

    def rowset(df):
        return {tuple(r) for r in df.collect()}

    assert rowset(publish.read_table(spark, root, "a_top")) == rowset(
        recompute_top()
    )

    # change the base fact; ONE pass must land in BOTH views
    fact2 = spark.createDataFrame(
        [(1, 10, 100.0), (2, 10, 2.0), (6, 20, 6.0)],
        "id bigint, fk int, val double",
    )
    publish.publish_tables(spark, {"fact": fact2}, root)
    report = materialize.refresh_declared_views(spark, root)
    assert not report["errors"]
    assert report["views"]["z_base"]["mode"] == "delta"
    assert report["views"]["a_top"]["mode"] == "delta"
    assert rowset(publish.read_table(spark, root, "z_base")) == rowset(
        _join_recompute(spark, root, fk="fk", dim_key="dk")
    )
    assert rowset(publish.read_table(spark, root, "a_top")) == rowset(
        recompute_top()
    )


def test_declared_view_cycles_rejected_at_declare_time(spark, tmp_path):
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)
    materialize.declare_view(
        root, "aggregate", src="w_view", dst="v_view",
        group_cols=["g"], sum_cols=[],
    )
    with pytest.raises(ValueError, match="cycle"):
        materialize.declare_view(
            root, "aggregate", src="v_view", dst="w_view",
            group_cols=["g"], sum_cols=[],
        )
    # the rejected declaration must not have been persisted
    assert "w_view" not in materialize.declared_views(root)
    with pytest.raises(ValueError, match="cycle"):
        materialize.declare_view(
            root, "aggregate", src="self", dst="self",
            group_cols=["g"], sum_cols=[],
        )


def test_maintain_aggregate_over_filtered_slice(spark, tmp_path):
    """src_where maintains the aggregate over a FILTERED source slice:
    rows moving into/out of the predicate set retract/apply exactly
    once, and every refresh equals the direct recompute of the filtered
    view — the per-tenant aggregate at O(tenant delta)."""
    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "s1", "a", 10.0), (2, "s1", "b", 20.0), (3, "s2", "a", 99.0),
         (4, "s1", "a", 40.0)],
        "id bigint, shop string, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})
    spec = dict(src="t", dst="t_s1_agg", group_cols=["grp"],
                sum_cols=["val"], src_where=[("shop", "=", "s1")])

    def recompute():
        return materialize.aggregate_table(
            publish.read_table(spark, root, "t").filter("shop = 's1'"),
            ["grp"], ["val"],
        )

    res = materialize.maintain_aggregate(spark, root, **spec)
    assert res["mode"] == "seed"
    got = _rows(publish.read_table(spark, root, "t_s1_agg"))
    assert got == _rows(recompute())
    assert got == sorted([("a", 2, 50.0), ("b", 1, 20.0)])  # s2 invisible

    # v2: id=3 moves INTO the slice, id=2 moves OUT of it, id=1 updates
    # inside it, id=5 inserts outside it (must stay invisible)
    v2 = spark.createDataFrame(
        [(1, "s1", "a", 11.0), (2, "s2", "b", 20.0), (3, "s1", "a", 99.0),
         (4, "s1", "a", 40.0), (5, "s2", "a", 500.0)],
        "id bigint, shop string, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v2}, root)
    res = materialize.maintain_aggregate(spark, root, **spec)
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "t_s1_agg"))
    assert got == _rows(recompute())
    assert got == sorted([("a", 3, 150.0)])  # grp b dropped with id=2

    # declared-view round trip: the filtered spec persists through JSON
    materialize.declare_view(root, "aggregate", **spec)
    publish.publish_tables(
        spark,
        {"t": v2.filter(F.col("id") != 3)},  # id=3 leaves the table
        root,
    )
    report = materialize.refresh_declared_views(spark, root)
    assert not report["errors"]
    assert _rows(publish.read_table(spark, root, "t_s1_agg")) == _rows(
        recompute()
    )


def test_maintain_join_over_filtered_fact_slice(spark, tmp_path):
    """fact_where maintains the join view over a filtered fact slice:
    rows entering/leaving the slice join in/out exactly once, dim
    changes re-derive only sliced fact rows, every refresh equals the
    direct filtered recompute."""
    root = str(tmp_path / "store")
    _seed_join_store(spark, root)  # fact ids 1-5, fk -> dim dk
    spec = dict(fact="fact", dim="dim", dst="v_small", fk="fk",
                dim_key="dk", fact_where=[("id", "<=", 3)])

    def recompute():
        return materialize.join_view(
            publish.read_table(spark, root, "fact").filter("id <= 3"),
            publish.read_table(spark, root, "dim"),
            "fk", "dk", None, "left",
        )

    res = materialize.maintain_join(spark, root, **spec)
    assert res["mode"] == "seed"
    assert _rows(publish.read_table(spark, root, "v_small")) == _rows(
        recompute()
    )

    # fact: id=2 leaves the slice surrogate (delete), id=1 FK-moves inside
    # it, id=6 inserts outside (invisible); dim: rename dk=20
    fact2 = spark.createDataFrame(
        [(1, 20, 1.0), (3, 20, 3.0), (4, 99, 4.0), (5, None, 5.0),
         (6, 10, 6.0)],
        "id bigint, fk int, val double",
    )
    dim2 = spark.createDataFrame(
        [(10, "ten"), (20, "TWENTY"), (30, "thirty")], "dk int, name string"
    )
    publish.publish_tables(spark, {"fact": fact2, "dim": dim2}, root)
    res = materialize.maintain_join(spark, root, **spec)
    assert res["mode"] == "delta"
    got = _rows(publish.read_table(spark, root, "v_small"))
    assert got == _rows(recompute())
    assert all(r[0] <= 3 for r in got)
    assert ("TWENTY" in {r[-1] for r in got})


def test_maintain_filtered_slice_with_min_max_recompute(spark, tmp_path):
    """src_where composed with MIN/MAX maintenance: a retraction of the
    slice's current extreme forces the targeted recompute, which must
    read the SLICE-scoped source (not the full table) to find the next
    extreme."""
    root = str(tmp_path / "store")
    v1 = spark.createDataFrame(
        [(1, "s1", "a", 10.0), (2, "s1", "a", 99.0), (3, "s2", "a", 500.0)],
        "id bigint, shop string, grp string, val double",
    )
    publish.publish_tables(spark, {"t": v1}, root, table_keys={"t": ["id"]})
    spec = dict(src="t", dst="s1_minmax", group_cols=["grp"], sum_cols=[],
                min_cols=["val"], max_cols=["val"],
                src_where=[("shop", "=", "s1")])
    materialize.maintain_aggregate(spark, root, **spec)
    got = {tuple(r) for r in publish.read_table(spark, root, "s1_minmax").collect()}
    assert got == {("a", 2, 10.0, 99.0)}  # s2's 500 must not be the max

    # delete the slice's max holder: recompute must pick 10.0, not 500.0
    publish.publish_tables(
        spark, {"t": v1.filter(F.col("id") != 2)}, root
    )
    res = materialize.maintain_aggregate(spark, root, **spec)
    assert res["mode"] == "delta"
    got = {tuple(r) for r in publish.read_table(spark, root, "s1_minmax").collect()}
    assert got == {("a", 1, 10.0, 10.0)}


def test_record_view_errors_preserves_corrupt_log(tmp_path):
    """ADVICE r6: a corrupt/partially-written _VIEW_ERRORS.json must not
    be silently replaced by a fresh log on the next append — the old
    bytes are preserved as .corrupt for the operator, and the new log
    starts clean."""
    root = str(tmp_path / "store")
    os.makedirs(root)
    path = os.path.join(root, materialize.VIEW_ERRORS_FILE)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write('[{"batch_id": 1, "at_unix"')  # torn write
    materialize.record_view_errors(root, 2, {"v": RuntimeError("boom")})
    log = materialize.view_refresh_errors(root)
    assert [r["batch_id"] for r in log] == [2]
    with open(path + ".corrupt", encoding="utf-8") as fh:
        assert fh.read().startswith('[{"batch_id": 1')
    # healthy appends keep appending
    materialize.record_view_errors(root, 3, {"v": "still boom"})
    assert [r["batch_id"] for r in materialize.view_refresh_errors(root)] == [2, 3]

def test_maintain_rowwise_view_variable_fanout(spark, tmp_path):
    """maintain_rowwise_view (general path): a per-row derivation with
    VARIABLE fan-out — doc → sliding-window chunks keyed (doc_id,
    chunk_id) — follows the source through inserts, updates and
    deletes; in particular an update that SHRINKS its fan-out retracts
    the excess chunk rows a bare upsert would leave behind, and the
    maintained table always equals a from-scratch rebuild."""
    from dataintegration_ecomprovider_spark.llm.chunking import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(25))     # 3 chunks @ 10
    short_text = " ".join(f"s{i}" for i in range(8))     # 1 chunk
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"documents": spark.createDataFrame(
            [(1, long_text), (2, short_text), (3, long_text)],
            "doc_id bigint, text string")},
        root, table_keys={"documents": ["doc_id"]},
    )

    def build(docs):
        return chunk_documents(docs, max_words=10)

    def refresh():
        return materialize.maintain_rowwise_view(
            spark, root, "documents", "chunks", build,
            dst_keys=["doc_id", "chunk_id"],
        )

    def stored():
        return {
            (r["doc_id"], r["chunk_id"]): r["chunk_text"]
            for r in publish.read_table(spark, root, "chunks").collect()
        }

    def rebuilt():
        return {
            (r["doc_id"], r["chunk_id"]): r["chunk_text"]
            for r in build(
                publish.read_table(spark, root, "documents")
            ).collect()
        }

    assert refresh()["mode"] == "seed"
    assert stored() == rebuilt()
    assert len({k[0] for k in stored()}) == 3
    assert refresh()["mode"] == "empty"
    assert refresh()["mode"] == "noop"

    # doc 1 shrinks 3 chunks -> 1; doc 2 deleted; doc 4 inserted; doc 3
    # blanked (fan-out drops to ZERO) — one MoR commit
    publish.merge_into_mor(
        spark, root, "documents",
        spark.createDataFrame(
            [(1, short_text), (3, "   "), (4, long_text)],
            "doc_id bigint, text string"),
        deletes=spark.createDataFrame([(2,)], "doc_id bigint"),
    )
    assert refresh()["mode"] == "delta"
    got = stored()
    assert got == rebuilt()
    # shrink retracted chunk_ids 1,2 of doc 1; delete/blank fully retracted
    assert {k for k in got if k[0] == 1} == {(1, 0)}
    assert not any(k[0] in (2, 3) for k in got)
    assert {k for k in got if k[0] == 4} == {(4, 0), (4, 1), (4, 2)}
    # write path is merge-on-read (delta commit, not a table rewrite)
    entry = publish.current_manifest(root)["tables"]["chunks"]
    assert entry.get("deltas")


def test_maintain_rowwise_view_rejects_bad_stable_keys(spark, tmp_path):
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame([(1, "a")], "k bigint, v string")},
        root, table_keys={"t": ["k"]},
    )
    with pytest.raises(ValueError, match="stable_keys"):
        materialize.maintain_rowwise_view(
            spark, root, "t", "v", lambda df: df,
            dst_keys=["k", "extra"], stable_keys=True,
        )


def test_maintain_rowwise_view_reseeds_on_build_schema_evolution(spark, tmp_path):
    """A rowwise view seeded by an OLDER build (fewer output columns)
    re-seeds when the current build emits more — committing the new
    build output as a MoR delta against the old table would mismatch
    schemas (ADVICE r11: token counts gained n_dropped_words)."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame(
            [(1, "a b"), (2, "c")], "k bigint, text string")},
        root, table_keys={"t": ["k"]},
    )

    def build_v1(rows):
        return rows.select("k", F.length("text").alias("n_chars"))

    def build_v2(rows):
        return rows.select(
            "k", F.length("text").alias("n_chars"),
            F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        )

    def refresh(build):
        return materialize.maintain_rowwise_view(
            spark, root, "t", "v", build, dst_keys=["k"], stable_keys=True,
        )

    assert refresh(build_v1)["mode"] == "seed"
    # advance the source so the next call is not a noop
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(3, "d e f")], "k bigint, text string"),
    )
    # the evolved build must force a clean re-seed, not a delta commit
    assert refresh(build_v2)["mode"] == "seed"
    got = {r["k"]: (r["n_chars"], r["n_words"])
           for r in publish.read_table(spark, root, "v").collect()}
    assert got == {1: (3, 2), 2: (1, 1), 3: (5, 3)}
    # and the unchanged build keeps delta-refreshing afterwards
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(4, "g h")], "k bigint, text string"),
    )
    assert refresh(build_v2)["mode"] == "delta"


_ROWS12 = st.lists(
    st.tuples(
        st.integers(0, 6),                        # id
        st.sampled_from(["g1", "g2", None]),      # group (nullable!)
        st.one_of(st.none(), st.integers(0, 9)),  # val (nullable)
        st.one_of(st.none(), st.integers(0, 3)),  # cust (nullable)
    ),
    min_size=0, max_size=7, unique_by=lambda t: t[0],
)
_CHAIN12 = st.lists(_ROWS12, min_size=2, max_size=4)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(chain=_CHAIN12)
def test_matview_expr_distinct_avg_model_property(spark, tmp_path_factory, chain):
    """Model-based check for the round-12 aggregate surface: for ANY
    version sequence (inserts, deletes, group moves — including NULL
    groups — value/cust updates through NULL), the maintained view READ
    (AVG over a nullable column + SUM(expr) + exact COUNT(DISTINCT))
    equals the direct SQL aggregate of the current version."""
    root = str(tmp_path_factory.mktemp("mvxprop") / "store")

    def frame(rows):
        return spark.createDataFrame(
            rows or [], "id bigint, grp string, val int, cust int"
        )

    def direct(df):
        return {
            (r["grp"],): (r["cnt"], r["avg_val"], r["sum_x"], r["cntd"])
            for r in df.groupBy("grp").agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.avg("val").alias("avg_val"),
                F.sum(
                    F.coalesce(F.col("val") * 2 + 1, F.lit(0))
                ).alias("sum_x"),
                F.count_distinct(F.col("cust")).cast("bigint").alias("cntd"),
            ).collect()
        }

    def maintained():
        got = materialize.read_aggregate_view(spark, root, "v")
        return {
            (r["grp"],): (r["cnt"], r["avg_val"], r["sum_x"],
                          r["cntd_cust"])
            for r in got.select(
                "grp", "cnt", F.col("avg_val"),
                "sum_x", "cntd_cust",
            ).collect()
        }

    spec = dict(
        src="t", dst="v", group_cols=["grp"], avg_cols=["val"],
        sum_exprs=[["sum_x", "val * 2 + 1"]], exact_distinct_cols=["cust"],
    )
    f0 = frame(chain[0])
    publish.publish_tables(spark, {"t": f0}, root, table_keys={"t": ["id"]})
    materialize.declare_view(root, "aggregate", **spec)
    materialize.maintain_aggregate(spark, root, **spec)
    assert maintained() == direct(f0)
    for rows in chain[1:]:
        f = frame(rows)
        publish.publish_tables(spark, {"t": f}, root)
        materialize.maintain_aggregate(spark, root, **spec)
        assert maintained() == direct(f)


def test_maintain_aggregate_companion_publish_is_atomic(spark, tmp_path):
    """ADVICE r12: the parent aggregate and its exact-distinct companion
    must become visible in ONE manifest swap — separate commits let a
    reader between them see cntd_<c> from a newer source joined against
    stale parent groups.  Pin: each maintain pass that rewrites both
    advances the store version by exactly 1, and both tables' manifest
    entries carry that same version."""
    root = str(tmp_path / "store")
    rows = [(1, "g1", 10, 1), (2, "g1", 20, 2), (3, "g2", 30, 1)]
    schema = "id bigint, grp string, val int, cust int"
    publish.publish_tables(
        spark, {"t": spark.createDataFrame(rows, schema)}, root,
        table_keys={"t": ["id"]},
    )
    spec = dict(src="t", dst="v", group_cols=["grp"], sum_cols=["val"],
                exact_distinct_cols=["cust"])

    def _paths():
        m = publish.current_manifest(root)
        out = {}
        for name in ("v", "v__xd_cust"):
            entry = m["tables"].get(name)
            out[name] = entry["path"] if isinstance(entry, dict) else entry
        return m["version"], out

    # seed: one commit lands parent + companion together
    before = publish.current_manifest(root)["version"]
    out = materialize.maintain_aggregate(spark, root, **spec)
    assert out["mode"] == "seed"
    assert out["companions"] == {"v__xd_cust": "seed"}
    v, paths = _paths()
    assert v == before + 1
    assert all(paths.values())

    # delta refresh: still one commit for both rewrites
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(4, "g2", 40, 3)], schema), keys=["id"],
    )
    before, old_paths = _paths()
    out = materialize.maintain_aggregate(spark, root, **spec)
    assert out["mode"] == "delta"
    assert out["companions"] == {"v__xd_cust": "delta"}
    v, paths = _paths()
    assert v == before + 1
    assert paths["v"] != old_paths["v"]
    assert paths["v__xd_cust"] != old_paths["v__xd_cust"]


def test_span_feed_shared_across_sibling_views(spark, tmp_path, monkeypatch):
    """Two rowwise views of the SAME source span refresh off ONE shared
    change feed — the O(table) version diff runs once per refresh pass,
    not once per view — and both views still equal their from-scratch
    rebuilds.  Distinct feed shapes (include_old, keys, where) never
    share an entry."""
    materialize.SPAN_FEED_CACHE.clear()
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"documents": spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma"), (3, "delta beta")],
            "doc_id bigint, text string")},
        root, table_keys={"documents": ["doc_id"]},
    )

    def build_len(docs):
        return docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).alias("n_words"),
        )

    def build_flag(docs):
        return docs.select(
            "doc_id",
            F.col("text").contains("beta").alias("has_beta"),
        )

    def refresh_both():
        a = materialize.maintain_rowwise_view(
            spark, root, "documents", "doc_len", build_len,
            dst_keys=["doc_id"], stable_keys=True,
        )
        b = materialize.maintain_rowwise_view(
            spark, root, "documents", "doc_flag", build_flag,
            dst_keys=["doc_id"], stable_keys=True,
        )
        return a, b

    a, b = refresh_both()
    assert (a["mode"], b["mode"]) == ("seed", "seed")

    publish.merge_into_mor(
        spark, root, "documents",
        spark.createDataFrame([(1, "beta"), (4, "zeta eta")],
                              "doc_id bigint, text string"),
        deletes=spark.createDataFrame([(2,)], "doc_id bigint"),
    )

    calls = []
    real_read_changes = publish.read_changes

    def counting(*args, **kwargs):
        calls.append((args, kwargs))
        return real_read_changes(*args, **kwargs)

    monkeypatch.setattr(publish, "read_changes", counting)
    a, b = refresh_both()
    assert (a["mode"], b["mode"]) == ("delta", "delta")
    # doc_flag's refresh over the identical (src, span, keys, shape)
    # reused doc_len's persisted feed: ONE diff for two views
    assert len(calls) == 1
    monkeypatch.undo()

    for dst, build in (("doc_len", build_len), ("doc_flag", build_flag)):
        assert _rows(publish.read_table(spark, root, dst)) == _rows(
            build(publish.read_table(spark, root, "documents"))
        )

    # a different feed SHAPE over the same span is a different entry
    df1, n1 = materialize.span_change_feed(
        spark, root, "documents", 3, 4, ["doc_id"])
    df2, n2 = materialize.span_change_feed(
        spark, root, "documents", 3, 4, ["doc_id"], include_old=True)
    assert n1 == n2 and df1 is not df2
    assert set(df2.columns) - set(df1.columns)  # __old columns

    # release_caches drains the memo (bench hygiene: reps start clean)
    assert len(materialize.SPAN_FEED_CACHE)
    from dataintegration_ecomprovider_spark import runtime

    runtime.release_caches(spark)
    assert not len(materialize.SPAN_FEED_CACHE)


def test_span_feed_dropped_by_uncache_hook_and_reminted_store(
    spark, tmp_path
):
    """Vacuum/compact invalidation reaches the span-feed memo through
    runtime.invalidate_path, and a re-minted store at the SAME path can
    never hit the old store's feed (entry txids differ)."""
    import shutil

    from dataintegration_ecomprovider_spark import runtime

    materialize.SPAN_FEED_CACHE.clear()
    root = str(tmp_path / "store")

    def mint(rows):
        publish.publish_tables(
            spark,
            {"t": spark.createDataFrame(rows, "k bigint, v string")},
            root, table_keys={"t": ["k"]},
        )
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(9, "nine")], "k bigint, v string"),
        )

    mint([(1, "a"), (2, "b")])
    df, n = materialize.span_change_feed(spark, root, "t", 1, 2, ["k"])
    assert n == 1
    key1 = materialize.SPAN_FEED_CACHE.keys()[0]

    # the invalidation vacuum/compact fire drops feeds under the store
    runtime.invalidate_path(os.path.join(root, "data"))
    assert not len(materialize.SPAN_FEED_CACHE)

    # re-mint the same path with DIFFERENT data: the key's entry
    # identity (txid-bearing paths) differs, so no stale hit is possible
    shutil.rmtree(root)
    mint([(1, "a"), (2, "b"), (3, "c")])
    df2, n2 = materialize.span_change_feed(spark, root, "t", 1, 2, ["k"])
    key2 = materialize.SPAN_FEED_CACHE.keys()[0]
    assert key1 != key2
    assert n2 == 1
    materialize.SPAN_FEED_CACHE.clear()
