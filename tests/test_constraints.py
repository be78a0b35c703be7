"""Persisted table constraints (publish.set_constraints — the Delta
CHECK-constraint role): declared once on the manifest entry, enforced by
EVERY write path — publish_tables validates the staged full state,
merge_into_mor validates its delta-sized staging against the row-local
subset — and a violating write aborts before anything becomes visible.
Value-preserving rewrites skip re-validation; renames follow the specs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.plans import publish


def _t(spark, n=10):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("ok").alias("status"),
    )


def _constraints(root: str) -> list:
    """The constraint specs the current manifest records for `t`."""
    return publish.current_manifest(root)["tables"]["t"].get("constraints", [])


def _store(spark, tmp_path):
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(root, "t", [
        ["not_null", "v"],
        ["values_in", "status", ["ok", "hold"]],
        ["range", "v", 0, 10_000],
        ["unique", "k"],
    ])
    return root


def test_publish_enforces_persisted_constraints(spark, tmp_path):
    root = _store(spark, tmp_path)
    assert _constraints(root)[0] == ["not_null", "v"]
    v_before = publish.current_manifest(root)["version"]
    # a violating full publish aborts; nothing becomes visible
    bad = _t(spark).withColumn(
        "status", F.when(F.col("k") == 3, "BAD").otherwise("ok")
    )
    with pytest.raises(publish.ValidationError, match="persisted constraint"):
        publish.publish_tables(spark, {"t": bad}, root)
    assert publish.current_manifest(root)["version"] == v_before
    # a clean publish carries the constraints onto the new entry
    publish.publish_tables(spark, {"t": _t(spark, 12)}, root)
    assert _constraints(root) != []


def test_mor_merge_enforces_row_local_constraints(spark, tmp_path):
    root = _store(spark, tmp_path)
    v_before = publish.current_manifest(root)["version"]
    with pytest.raises(publish.ValidationError, match="merge staging"):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, -5, "ok")], "k long, v long, status string"),
        )
    # an OMITTED not_null column is a violation too: the delta's null
    # replaces the row's value at read time
    with pytest.raises(publish.ValidationError, match="merge staging"):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, "ok")], "k long, status string"),
        )
    assert publish.current_manifest(root)["version"] == v_before
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(1, 5, "hold")], "k long, v long, status string"),
    )
    assert publish.read_table(spark, root, "t").filter(
        F.col("k") == 1
    ).collect()[0]["status"] == "hold"


def test_constraints_follow_renames_and_block_drops(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.rename_column(spark, root, "t", "v", "value")
    specs = _constraints(root)
    assert ["not_null", "value"] in specs and ["range", "value", 0, 10000] in specs
    # enforcement works through the column map (logical name in staging,
    # physical name in the files)
    with pytest.raises(publish.ValidationError):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, None, "ok")], "k long, value long, status string"),
        )
    with pytest.raises(ValueError, match="referenced by constraints"):
        publish.drop_column(spark, root, "t", "status")
    publish.set_constraints(root, "t", [])
    publish.drop_column(spark, root, "t", "status")  # now allowed


def test_rewrites_skip_revalidation_but_carry_constraints(spark, tmp_path):
    root = _store(spark, tmp_path)
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, 7, "hold")], "k long, v long, status string"),
    )
    publish.compact(spark, root, "t")
    entry = publish.current_manifest(root)["tables"]["t"]
    assert entry.get("constraints"), "compact must carry constraints"
    assert entry.get("rewrite_of") is not None
    # still enforced after the rewrite
    with pytest.raises(publish.ValidationError):
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(3, 99999, "ok")], "k long, v long, status string"),
        )


def test_set_constraints_rejects_unknown_kinds(spark, tmp_path):
    root = str(tmp_path / "store")
    publish.publish_tables(spark, {"t": _t(spark)}, root)
    with pytest.raises(ValueError, match="kind must be one of"):
        publish.set_constraints(root, "t", [["no_such_kind", "v"]])


def test_quarantine_mode_diverts_violating_rows(spark, tmp_path):
    """on_violation='quarantine': the store-level S7 row-skipping sink —
    violating staging rows land in <name>__quarantine tagged with the
    failed specs, clean rows merge normally, the feed keeps flowing."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(
        root, "t",
        [["not_null", "v"], ["values_in", "status", ["ok", "hold"]]],
        on_violation="quarantine",
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(1, 11, "ok"), (2, None, "ok"), (3, 33, "BAD"), (50, 55, "hold")],
            "k long, v long, status string",
        ),
    )
    cur = {r["k"]: (r["v"], r["status"])
           for r in publish.read_table(spark, root, "t").collect()}
    assert cur[1] == (11, "ok") and cur[50] == (55, "hold")
    assert cur[2] == (4, "ok") and cur[3] == (6, "ok")  # bad rows skipped
    q = {r["k"]: r["__violations"]
         for r in publish.read_table(spark, root, "t__quarantine").collect()}
    assert set(q) == {2, 3}
    assert "not_null:v" in q[2] and "values_in:status" in q[3]
    # a later batch re-offending the same key updates its quarantine row
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, -1, "NOPE")], "k long, v long, status string"),
    )
    q = {r["k"]: r["__violations"]
         for r in publish.read_table(spark, root, "t__quarantine").collect()}
    assert q[2] == "values_in:status"  # v=-1 is fine (no range spec); status bad
    # nulls satisfy values_in (SQL CHECK semantics) — only not_null flags them
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(60, 6, None)], "k long, v long, status string"),
    )
    assert publish.read_table(spark, root, "t").filter(
        F.col("k") == 60
    ).count() == 1


def test_maintain_store_surfaces_quarantine_backlog(spark, tmp_path):
    """The nightly pass reports non-empty quarantine tables — diverted
    rows are easy to forget; the maintenance report is where an
    operator looks."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(
        root, "t", [["not_null", "v"]], on_violation="quarantine"
    )
    report = publish.maintain_store(spark, root)
    assert "quarantines" not in report  # nothing diverted yet
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, None, "ok")], "k long, v long, status string"),
    )
    report = publish.maintain_store(spark, root)
    assert report["quarantines"] == {"t__quarantine": 1}


def test_quarantine_uses_logical_names_after_rename(spark, tmp_path):
    """When the main table carries a column-rename map, quarantined rows
    and their __violations labels must cite the LOGICAL names the caller
    declared constraints in — not the physical file names."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(
        root, "t", [["not_null", "v"]], on_violation="quarantine"
    )
    publish.rename_column(spark, root, "t", "v", "value")
    # constraints followed the rename
    assert _constraints(root) == [["not_null", "value"]]
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(1, 11, "ok"), (2, None, "ok")], "k long, value long, status string"
        ),
    )
    q = publish.read_table(spark, root, "t__quarantine")
    assert q.columns == ["k", "value", "status", "__violations"]
    rows = {r["k"]: r["__violations"] for r in q.collect()}
    assert rows == {2: "not_null:value"}
    # the clean row merged under the logical name
    cur = {r["k"]: r["value"] for r in publish.read_table(spark, root, "t").collect()}
    assert cur[1] == 11 and cur[2] == 4


def test_quarantine_merge_evolves_with_main_schema(spark, tmp_path):
    """A main merge that widens the schema (evolve_schema=True) while
    diverting violators must not abort on the pre-existing NARROWER
    quarantine table — the quarantine merge evolves alongside, keeping
    the feed flowing (the whole point of quarantine mode)."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(
        root, "t", [["not_null", "v"]], on_violation="quarantine"
    )
    # first batch creates the quarantine table with the narrow schema
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, None, "ok")], "k long, v long, status string"),
    )
    assert publish.read_table(spark, root, "t__quarantine").count() == 1
    # second batch widens the main table AND carries a violator
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(3, 33, "ok", "x3"), (4, None, "ok", "x4")],
            "k long, v long, status string, extra string",
        ),
        evolve_schema=True,
    )
    main = {r["k"]: r["extra"]
            for r in publish.read_table(spark, root, "t").collect()}
    assert main[3] == "x3"
    assert main[4] is None  # k=4's update was diverted, not applied
    q = {r["k"]: (r["v"], r["extra"])
         for r in publish.read_table(spark, root, "t__quarantine").collect()}
    assert q[4] == (None, "x4")       # widened quarantine carries the new col
    assert q[2] == (None, None)       # pre-evolution row null-fills it


def test_cow_merge_quarantines_violating_staging(spark, tmp_path):
    """on_violation='quarantine' applies to the copy-on-write merge path
    too: merge_into splits its staging exactly like merge_into_mor —
    violators divert, clean rows merge, maintain_store still reports the
    backlog — and a later MoR merge shares the same quarantine table."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(
        root, "t",
        [["not_null", "v"], ["values_in", "status", ["ok", "hold"]]],
        on_violation="quarantine",
    )
    publish.merge_into(
        spark, root, "t",
        spark.createDataFrame(
            [(1, 11, "ok"), (2, None, "ok"), (3, 33, "BAD"), (50, 55, "hold")],
            "k long, v long, status string",
        ),
    )
    cur = {r["k"]: (r["v"], r["status"])
           for r in publish.read_table(spark, root, "t").collect()}
    assert cur[1] == (11, "ok") and cur[50] == (55, "hold")
    assert cur[2] == (4, "ok") and cur[3] == (6, "ok")  # bad rows skipped
    q = {r["k"]: r["__violations"]
         for r in publish.read_table(spark, root, "t__quarantine").collect()}
    assert set(q) == {2, 3}
    assert "not_null:v" in q[2] and "values_in:status" in q[3]
    report = publish.maintain_store(spark, root)
    assert report["quarantines"] == {"t__quarantine": 2}
    # the MoR path upserts into the SAME quarantine table
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, -1, "NOPE")], "k long, v long, status string"),
    )
    q = {r["k"]: r["__violations"]
         for r in publish.read_table(spark, root, "t__quarantine").collect()}
    assert q[2] == "values_in:status"
    # a fully-clean CoW batch after quarantine mode: no diversion, merges
    publish.merge_into(
        spark, root, "t",
        spark.createDataFrame([(60, 6, "ok")], "k long, v long, status string"),
    )
    assert publish.read_table(spark, root, "t").filter(
        F.col("k") == 60
    ).count() == 1


def test_requeue_quarantine_after_relaxing(spark, tmp_path):
    """The drain path: quarantine rows re-merge once the constraint is
    relaxed; a partial relax re-quarantines exactly the still-bad rows."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")},
        root, table_keys={"t": ["k"]},
    )
    publish.set_constraints(
        root, "t", [["range", "v", 0, 100]], on_violation="quarantine"
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame(
            [(3, 150), (4, 950), (5, 50)], "k long, v long"
        ),
    )
    qname = "t__quarantine"
    assert publish.read_table(spark, root, qname).count() == 2

    # partial relax: 150 becomes legal, 950 stays out
    publish.set_constraints(
        root, "t", [["range", "v", 0, 500]], on_violation="quarantine"
    )
    rep = publish.requeue_quarantine(spark, root, "t")
    assert rep == {"requeued": 1, "still_quarantined": 1}
    got = {r["k"]: r["v"]
           for r in publish.read_table(spark, root, "t").collect()}
    assert got == {1: 10, 2: 20, 3: 150, 5: 50}
    assert {r["k"] for r in publish.read_table(spark, root, qname).collect()} \
        == {4}

    # full relax drains everything and leaves no quarantine table
    publish.set_constraints(
        root, "t", [["range", "v", 0, 1000]], on_violation="quarantine"
    )
    rep = publish.requeue_quarantine(spark, root, "t")
    assert rep == {"requeued": 1, "still_quarantined": 0}
    assert qname not in publish.current_manifest(root)["tables"]
    assert publish.read_table(spark, root, "t").count() == 5

    # idempotent on an empty/absent quarantine
    assert publish.requeue_quarantine(spark, root, "t") == {
        "requeued": 0, "still_quarantined": 0,
    }


def test_requeue_quarantine_frees_its_pin(spark, tmp_path):
    """The pre-drop pin (a local checkpoint) is requeue's own: once the
    re-merge has committed it is freed, so the persisted-RDD set is the
    same before and after a requeue plus release_caches."""
    from dataintegration_ecomprovider_spark import runtime

    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame([(1, 10)], "k long, v long")},
        root, table_keys={"t": ["k"]},
    )
    publish.set_constraints(
        root, "t", [["range", "v", 0, 100]], on_violation="quarantine"
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, 150), (3, 50)], "k long, v long"),
    )
    publish.set_constraints(
        root, "t", [["range", "v", 0, 500]], on_violation="quarantine"
    )
    runtime.release_caches(spark)
    before = runtime.persistent_rdd_ids(spark)
    rep = publish.requeue_quarantine(spark, root, "t")
    runtime.release_caches(spark)
    assert rep == {"requeued": 1, "still_quarantined": 0}
    assert runtime.persistent_rdd_ids(spark) == before


def test_cow_quarantine_replay_is_fully_idempotent(spark, tmp_path):
    """A txn-stamped CoW merge whose staging triggers quarantine routing
    must be a COMPLETE no-op on replay: the txn gate runs BEFORE the
    quarantine diversion, so a foreachBatch checkpoint replay lands
    neither a duplicate main version nor a duplicate quarantine version
    (merge_into_mor gates before staging for the same reason)."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"t": _t(spark)}, root, table_keys={"t": ["k"]}
    )
    publish.set_constraints(
        root, "t", [["not_null", "v"]], on_violation="quarantine"
    )
    batch = spark.createDataFrame(
        [(1, 11, "ok"), (2, None, "ok"), (90, 9, "ok")],
        "k long, v long, status string",
    )
    publish.merge_into(spark, root, "t", batch, txn=("app", 7))
    v1 = publish.current_manifest(root)["version"]
    assert publish.read_table(spark, root, "t__quarantine").count() == 1

    replay = publish.merge_into(spark, root, "t", batch, txn=("app", 7))
    assert replay.get("txn_skipped") is True
    assert publish.current_manifest(root)["version"] == v1  # NO new version
    assert publish.read_table(spark, root, "t__quarantine").count() == 1


def test_maintain_store_auto_requeue_policy(spark, tmp_path):
    """Round 9: maintain_store drains quarantines by policy — count- and
    age-gated — so a relaxed constraint no longer needs a manual
    requeue_quarantine call; still-bad rows re-divert truthfully."""
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")},
        root, table_keys={"t": ["k"]},
    )
    publish.set_constraints(
        root, "t", [["range", "v", 0, 100]], on_violation="quarantine"
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(3, 150), (4, 950)], "k long, v long"),
    )
    assert publish.read_table(spark, root, "t__quarantine").count() == 2

    # count gate: backlog (2) below min_rows → untouched
    rep = publish.maintain_store(
        spark, root, requeue_quarantine_policy={"t": {"min_rows": 5}}
    )
    assert rep.get("requeued") == {}
    assert rep["quarantines"] == {"t__quarantine": 2}

    # age gate: too fresh → untouched
    rep = publish.maintain_store(
        spark, root,
        requeue_quarantine_policy={"t": {"min_age_seconds": 3600}},
    )
    assert rep.get("requeued") == {}

    # partial relax + permissive policy: the fixed row drains, the
    # still-bad one re-diverts, the report says exactly that
    publish.set_constraints(
        root, "t", [["range", "v", 0, 500]], on_violation="quarantine"
    )
    rep = publish.maintain_store(
        spark, root, requeue_quarantine_policy={"t": {}}
    )
    assert rep["requeued"]["t"] == {"requeued": 1, "still_quarantined": 1}
    assert rep["quarantines"] == {"t__quarantine": 1}
    got = {r["k"]: r["v"] for r in publish.read_table(spark, root, "t").collect()}
    assert got[3] == 150 and 4 not in got

    # a table with NO quarantine is a clean no-op under the policy
    rep = publish.maintain_store(
        spark, root, requeue_quarantine_policy={"nope": {}}
    )
    assert rep.get("requeued") == {} and "errors" in rep and \
        not any(k.startswith("requeue:") for k in rep["errors"])
