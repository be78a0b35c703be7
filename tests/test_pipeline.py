"""Pipeline + atomic-publish tests (reference RunJob semantics, SURVEY §3.1):
E15 ordering, E16 completion, E17 strip, P7/P8 shaping, merge idempotence,
and U12 all-or-nothing publish."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.plans import publish
from dataintegration_ecomprovider_spark.plans.pipeline import (
    ColumnRule,
    MappingSpec,
    complete_mapping,
    order_mappings,
    run_job,
    shape,
    strip_virtual_columns,
)
from tests.conftest import SF_DIR


def _orders_mapping(**kw) -> MappingSpec:
    return MappingSpec(
        source_table="orders",
        dest_table="orders",
        columns=(
            ColumnRule("o_orderkey", "o_orderkey", is_key=True),
            ColumnRule("o_custkey", "o_custkey"),
            ColumnRule("o_orderstatus", script="constant", script_value="U"),
            ColumnRule("o_totalprice", "o_totalprice"),
            ColumnRule("o_orderdate", "o_orderdate"),
            ColumnRule("o_orderpriority", "o_orderpriority"),
        ),
        **kw,
    )


def test_order_mappings_is_dependency_sorted_and_stable():
    li = MappingSpec("lineitem", "lineitem", columns=())
    cust = MappingSpec("customer", "customer", columns=())
    nat = MappingSpec("nation", "nation", columns=())
    unknown1 = MappingSpec("x", "zzz_custom", columns=())
    unknown2 = MappingSpec("y", "zzz_other", columns=())
    ordered = order_mappings([unknown1, li, unknown2, cust, nat])
    names = [m.dest_table for m in ordered]
    # dimensions before facts; unknowns last in input order (E15)
    assert names == ["nation", "customer", "lineitem", "zzz_custom", "zzz_other"]


def test_complete_mapping_adds_and_forces_keys():
    spec = MappingSpec(
        "orders", "orders",
        columns=(ColumnRule("o_custkey", "o_custkey"),),
    )
    done = complete_mapping(spec, ["o_orderkey", "o_custkey"])
    by_dest = {c.dest: c for c in done.columns}
    assert by_dest["o_orderkey"].is_key  # auto-added (E16)
    assert by_dest["o_custkey"].is_key   # forced on existing mapping
    assert set(done.key_columns()) == {"o_orderkey", "o_custkey"}


def test_shape_applies_scripts_and_merges_duplicate_dest(spark):
    cat = Catalog(spark, SF_DIR)
    spec = MappingSpec(
        "part", "products",
        columns=(
            ColumnRule("product_id", "p_partkey", is_key=True),
            ColumnRule("tagged", "p_name", script="prepend", script_value="N:"),
            # duplicate destination -> P8 concat in mapping order
            ColumnRule("merged", "p_brand"),
            ColumnRule("merged", "p_type"),
            ColumnRule("fixed", script="constant", script_value="C"),
        ),
        conditional=F.col("p_size") < 10,
    )
    out = shape(cat.table("part"), spec)
    rows = out.limit(5).collect()
    assert out.columns == ["product_id", "tagged", "merged", "fixed"]
    for r in rows:
        assert r.tagged.startswith("N:")
        assert r.fixed == "C"
    # conditional applied
    assert out.count() == cat.table("part").filter(F.col("p_size") < 10).count()


def test_strip_virtual_columns_drops_only_present(spark):
    cat = Catalog(spark, SF_DIR)
    df = cat.table("part").withColumn("Groups", F.lit("x"))
    spec = MappingSpec("part", "part", columns=(), virtual_columns=("Groups", "NotThere"))
    out = strip_virtual_columns(df, spec)
    assert "Groups" not in out.columns
    assert "p_name" in out.columns


def test_run_job_upsert_is_idempotent(spark):
    """The reference re-runs jobs as its incremental model (SURVEY §2.10) —
    a second identical run must not change the destination."""
    cat = Catalog(spark, SF_DIR)
    dest0 = cat.table("orders").filter(F.col("o_orderkey") % 3 != 0)
    mapping = _orders_mapping(conditional=F.col("o_orderkey") % 2 == 0)

    once = run_job(cat, {"orders": dest0}, [mapping])["orders"]
    twice = run_job(cat, {"orders": once}, [mapping])["orders"]
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_run_job_mode_matrix(spark):
    cat = Catalog(spark, SF_DIR)
    dest0 = cat.table("orders").filter(F.col("o_orderkey") % 3 != 0)
    n_dest = dest0.count()
    staged_cond = F.col("o_orderkey") % 2 == 0

    insert_only = run_job(
        cat, {"orders": dest0},
        [_orders_mapping(conditional=staged_cond, update_existing=False)],
    )["orders"]
    # existing rows untouched: no dest row flips to the staged constant status
    kept = insert_only.join(dest0.select("o_orderkey"), "o_orderkey", "left_semi")
    assert kept.filter(F.col("o_orderstatus") == "U").count() == 0
    assert insert_only.count() > n_dest

    update_only = run_job(
        cat, {"orders": dest0},
        [_orders_mapping(conditional=staged_cond, insert_new=False)],
    )["orders"]
    assert update_only.count() == n_dest  # nothing inserted


def test_run_job_update_only_existing_tables_override(spark):
    """UpdateOnlyExistingProducts: the per-table override flips just the
    named destination to update-existing-only while other mappings keep
    their modes (src/EcomProvider.cs:680-687,
    src/EcomDestinationWriter.cs:3295-3302)."""
    cat = Catalog(spark, SF_DIR)
    dest0 = cat.table("orders").filter(F.col("o_orderkey") % 3 != 0)
    cust0 = cat.table("customer").filter(F.col("c_custkey") % 2 != 0)
    cust_mapping = MappingSpec(
        "customer", "customer",
        columns=(
            ColumnRule("c_custkey", "c_custkey", is_key=True),
            ColumnRule("c_name", "c_name"),
        ),
    )
    state = run_job(
        cat,
        {"orders": dest0, "customer": cust0},
        [_orders_mapping(conditional=F.col("o_orderkey") % 2 == 0), cust_mapping],
        update_only_existing_tables=["orders"],
    )
    # orders: inserts skipped (override) even though insert_new defaulted True
    assert state["orders"].count() == dest0.count()
    # but matched rows were still updated
    assert state["orders"].filter(F.col("o_orderstatus") == "U").count() > 0
    # customer: unaffected by the override — inserts happened
    assert state["customer"].count() == cat.table("customer").count()


def test_merge_step_duplicate_key_modes(spark):
    """Staging rows sharing key values must not fan out the matched update:
    'first_wins' keeps a deterministic row per key (reference PK dedup,
    src/EcomDestinationWriter.cs:1269-1278); 'error' reproduces the
    duplicate-subquery failure (src/EcomProvider.cs:1052)."""
    import dataclasses

    from dataintegration_ecomprovider_spark.plans.pipeline import merge_step

    dest = spark.createDataFrame(
        [("K1", "old"), ("K2", "old")], "k string, v string"
    )
    staged = spark.createDataFrame(
        [("K1", "a"), ("K1", "b"), ("K3", "c")], "k string, v string"
    )
    spec = MappingSpec(
        "src", "dst",
        columns=(ColumnRule("k", "k", is_key=True), ColumnRule("v", "v")),
    )
    out = merge_step(dest, staged, spec)  # default on_duplicate_keys=first_wins
    rows = {r.k: r.v for r in out.collect()}
    # no fan-out: K1 appears once, with the deterministic first row ("a")
    assert rows == {"K1": "a", "K2": "old", "K3": "c"}

    err_spec = dataclasses.replace(spec, on_duplicate_keys="error")
    with pytest.raises(Exception, match="duplicate staging key"):
        merge_step(dest, staged, err_spec).collect()


def test_run_job_relation_outputs_explode_into_swap(spark):
    """E5→U9 through the pipeline: a mapping carrying a comma-quoted Groups
    virtual column explodes it into relation rows that swap into the
    relation table, while the virtual column itself never reaches the
    destination (E17)."""
    from dataintegration_ecomprovider_spark.operators.explode import explode_membership
    from dataintegration_ecomprovider_spark.plans.pipeline import RelationOutput

    cat = Catalog(spark, SF_DIR)
    # destination state: parts + an existing relation table to be swapped
    dest_parts = cat.table("part").select(
        F.col("p_partkey").alias("product_id"), F.col("p_name").alias("product_name")
    )
    existing_rel = spark.createDataFrame(
        [(1, "OLD", 0)], "product_id bigint, member string, pos int"
    )

    def derive_groups(staged):
        return explode_membership(
            staged, ["product_id"], "groups", "member"
        ).select("product_id", "member", F.col("pos").cast("int").alias("pos"))

    mapping = MappingSpec(
        source_table="part",
        dest_table="products",
        columns=(
            ColumnRule("product_id", "p_partkey", is_key=True),
            ColumnRule("product_name", "p_name"),
            # the virtual Groups column: two quoted members per product
            ColumnRule("groups", "p_brand", script="prepend", script_value='"G1","'),
        ),
        conditional=F.col("p_partkey") <= 3,
        virtual_columns=("groups",),
        relation_outputs=(
            RelationOutput("product_groups", derive_groups, ("product_id",)),
        ),
    )
    # make the quoted list well-formed: '"G1","Brand#NN' -> append closing quote
    # (script transforms compose; here prepend suffices for the shape test)
    state = run_job(
        cat,
        {"products": dest_parts, "product_groups": existing_rel},
        [mapping],
    )
    products = state["products"]
    assert "groups" not in products.columns  # E17 strip held
    rel = state["product_groups"].filter(F.col("product_id") <= 3)
    got = {(r.product_id, r.pos): r.member for r in rel.collect()}
    # each staged product contributed member G1 at pos 0 + its brand at pos 1
    for pid in {r.product_id for r in rel.collect()}:
        assert got[(pid, 0)] == "G1"
        assert got[(pid, 1)].startswith("Brand#")
    # the swap replaced the old relation row for staged products only
    assert state["product_groups"].filter(F.col("member") == "OLD").count() == (
        0 if 1 in {pid for (pid, _) in got} else 1
    )


def test_parameterized_conditional_discard_duplicates_and_delete_incoming(spark):
    cat = Catalog(spark, SF_DIR)
    orders = cat.table("orders")
    dest0 = orders.select("o_orderkey", "o_orderstatus")

    # P2 parameterized conditional: threshold injected at run time (the
    # reference substitutes request values into conditionals)
    param_mapping = MappingSpec(
        source_table="orders",
        dest_table="orders",
        columns=(
            ColumnRule("o_orderkey", "o_orderkey", is_key=True),
            ColumnRule("o_orderstatus", script="constant", script_value="PARAMED"),
        ),
        conditional_sql="o_totalprice > {threshold}",
    )
    out = run_job(cat, {"orders": dest0}, [param_mapping], params={"threshold": "100000"})["orders"]
    n_staged = orders.filter(F.col("o_totalprice") > 100000).count()
    assert out.filter(F.col("o_orderstatus") == "PARAMED").count() == n_staged

    # E13b DiscardDuplicates: mapping projecting a non-unique column set
    # collapses identical rows before the merge
    dd = MappingSpec(
        source_table="orders",
        dest_table="statuses",
        columns=(ColumnRule("o_orderstatus", "o_orderstatus", is_key=True),),
        discard_duplicates=True,
    )
    statuses0 = spark.createDataFrame([("Z",)], "o_orderstatus string")
    got = run_job(cat, {"statuses": statuses0}, [dd])["statuses"]
    distinct_statuses = {r.o_orderstatus for r in orders.select("o_orderstatus").distinct().collect()}
    assert {r.o_orderstatus for r in got.collect()} == distinct_statuses | {"Z"}
    assert got.count() == len(distinct_statuses | {"Z"})  # no dup rows staged

    # U4 delete-incoming replaces the merge: staged keys are REMOVED
    del_mapping = MappingSpec(
        source_table="orders",
        dest_table="orders",
        columns=(ColumnRule("o_orderkey", "o_orderkey", is_key=True),),
        conditional=F.col("o_orderkey") % 2 == 0,
        delete_incoming=True,
    )
    left = run_job(cat, {"orders": dest0}, [del_mapping])["orders"]
    assert left.filter(F.col("o_orderkey") % 2 == 0).count() == 0
    assert left.count() == dest0.filter(F.col("o_orderkey") % 2 != 0).count()


def test_publish_swaps_atomically(spark, tmp_path):
    root = str(tmp_path / "store")
    cat = Catalog(spark, SF_DIR)
    region, nation = cat.table("region"), cat.table("nation")

    m1 = publish.publish_tables(spark, {"region": region, "nation": nation}, root)
    assert m1["version"] == 1
    assert publish.read_table(spark, root, "region").count() == region.count()

    # failing validation must leave version 1 fully visible (rollback)
    def reject(df):
        raise publish.ValidationError("boom")

    with pytest.raises(publish.ValidationError):
        publish.publish_tables(
            spark, {"region": region.limit(1)}, root, validators={"region": reject}
        )
    m_now = publish.current_manifest(root)
    assert m_now["version"] == 1
    assert publish.read_table(spark, root, "region").count() == region.count()

    # successful second publish flips region but carries nation forward
    m2 = publish.publish_tables(spark, {"region": region.limit(2)}, root)
    assert m2["version"] == 2
    assert publish.read_table(spark, root, "region").count() == 2
    assert publish.read_table(spark, root, "nation").count() == nation.count()


def test_incremental_merge_into_with_history_and_rollback(spark, tmp_path):
    root = str(tmp_path / "store3")
    cat = Catalog(spark, SF_DIR)
    orders = cat.table("orders")
    dest0 = orders.filter(F.col("o_orderkey") % 3 != 0)
    publish.publish_tables(spark, {"orders": dest0}, root)

    # three incremental merges = three committed versions
    slices = [orders.filter(F.col("o_orderkey") % 3 == r).withColumn(
        "o_orderstatus", F.lit(f"S{r}")) for r in range(3)]
    for s in slices:
        publish.merge_into(spark, root, "orders", s, ["o_orderkey"])
    m = publish.current_manifest(root)
    assert m["version"] == 4
    final = publish.read_table(spark, root, "orders")

    # converges to the one-shot upsert of the unioned staging
    from dataintegration_ecomprovider_spark.operators import merge
    all_staged = slices[0].unionByName(slices[1]).unionByName(slices[2])
    want = merge.upsert(dest0, all_staged, ["o_orderkey"])
    assert final.exceptAll(want).count() == 0 and want.exceptAll(final).count() == 0

    # time travel: v1 is still the original dest
    v1 = publish.read_table_at(spark, root, "orders", 1)
    assert v1.exceptAll(dest0).count() == 0 and dest0.exceptAll(v1).count() == 0

    # rollback re-commits v1's state as v5 without touching data dirs
    publish.rollback(root, 1)
    rolled = publish.read_table(spark, root, "orders")
    assert publish.current_manifest(root)["version"] == 5
    assert rolled.exceptAll(dest0).count() == 0 and dest0.exceptAll(rolled).count() == 0


def test_publish_staging_invisible_until_commit(spark, tmp_path):
    root = str(tmp_path / "store2")
    cat = Catalog(spark, SF_DIR)
    publish.publish_tables(spark, {"region": cat.table("region")}, root)
    v1 = publish.current_manifest(root)

    # simulate a crash after staging, before manifest swap: stage data exists
    # on disk but the manifest (and thus readers) never see it
    staged_dir = os.path.join(root, "data", "deadbeef-crashed", "region")
    cat.table("region").limit(1).write.parquet(staged_dir)
    assert publish.current_manifest(root) == v1
    assert publish.read_table(spark, root, "region").count() == cat.table("region").count()


def test_publish_bucketed_roundtrip_and_exchange_free_merge(spark, tmp_path):
    """publish_tables(bucket_keys=...) closes the loop with bucketed
    staging: the committed table reads back identical AND a follow-up
    merge against it on the bucket key needs no Exchange on the dest side
    (the published layout survives the round trip)."""
    from dataintegration_ecomprovider_spark.operators import bucketing, merge

    root = str(tmp_path / "store")
    cat = Catalog(spark, SF_DIR)
    orders = cat.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    manifest = publish.publish_tables(
        spark, {"orders": orders}, root,
        bucket_keys={"orders": ["o_orderkey"]}, num_buckets=8,
    )
    entry = manifest["tables"]["orders"]
    assert entry["bucket_keys"] == ["o_orderkey"]

    back = publish.read_table(spark, root, "orders")
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        staging = bucketing.stage_for_merge(
            spark,
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("o_orderstatus", F.lit("U")),
            ["o_orderkey"], "tpub_stg", 8,
        )
        plan = (
            merge.upsert(back, staging, ["o_orderkey"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS tpub_stg")


def test_merge_into_bucketed_keeps_layout_across_versions(spark, tmp_path):
    """Repeated incremental merges with bucketed=True: every version's
    destination reads back bucketed, the dest side of each merge join
    plans without an Exchange, and the data matches the unbucketed path."""
    root = str(tmp_path / "store")
    cat = Catalog(spark, SF_DIR)
    base = cat.table("orders").select("o_orderkey", "o_orderstatus")
    publish.publish_tables(
        spark, {"orders": base}, root,
        bucket_keys={"orders": ["o_orderkey"]}, num_buckets=8,
    )
    for status in ("U", "V"):
        inc = base.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_orderstatus", F.lit(status)
        )
        publish.merge_into(
            spark, root, "orders", inc, ["o_orderkey"],
            bucketed=True, num_buckets=8,
        )
    final = publish.read_table(spark, root, "orders")
    # dest side of a follow-up merge join: no Exchange above its scan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        from dataintegration_ecomprovider_spark.operators import merge

        inc = base.limit(100).withColumn("o_orderstatus", F.lit("W"))
        plan = (
            merge.upsert(final, inc, ["o_orderkey"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        # exactly ONE exchange (the incoming staging); dest never re-shuffles
        assert plan.count("Exchange hashpartitioning") <= 1, plan[:2500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    rows = final.toPandas()
    assert (rows[rows["o_orderkey"] % 2 == 0]["o_orderstatus"] == "V").all()
    assert len(rows) == base.count()


def test_vacuum_prunes_old_versions_keeps_current(spark, tmp_path):
    root = str(tmp_path / "store")
    cat = Catalog(spark, SF_DIR)
    base = cat.table("nation").select("n_nationkey", "n_name")
    # v1..v4: four publishes of evolving state
    for i in range(4):
        publish.publish_tables(
            spark, {"nation": base.withColumn("v", F.lit(i))}, root
        )
    before = publish.current_manifest(root)
    assert before["version"] == 4 and len(before["history"]) == 3

    res = publish.vacuum(spark, root, keep_versions=2)
    assert res["removed_versions"] == [1, 2]
    assert len(res["removed_paths"]) == 2
    for p in res["removed_paths"]:
        assert not os.path.exists(p)

    after = publish.current_manifest(root)
    assert after["version"] == 4
    # current + one historical version still readable
    assert publish.read_table(spark, root, "nation").count() == base.count()
    assert publish.read_table_at(spark, root, "nation", 3).count() == base.count()
    with pytest.raises(KeyError):
        publish.read_table_at(spark, root, "nation", 1)
    # idempotent
    assert publish.vacuum(spark, root, keep_versions=2)["removed_versions"] == []


def test_run_job_on_store_atomic_with_changes(spark, tmp_path):
    """Store-level job run: read dests from the store, run the mapping
    pipeline, publish everything as ONE version, and surface the run's CDC
    feed.  The final state matches the direct run_job result; the change
    feed holds exactly the touched rows."""
    from dataintegration_ecomprovider_spark.plans.pipeline import (
        ColumnRule, MappingSpec, run_job_on_store,
    )

    root = str(tmp_path / "store")
    cat = Catalog(spark, SF_DIR)
    dest0 = cat.table("orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    ).filter(F.col("o_orderkey") % 3 != 0)
    publish.publish_tables(spark, {"orders": dest0}, root)

    spec = MappingSpec(
        source_table="orders",
        dest_table="orders",
        columns=(
            ColumnRule("o_orderkey", "o_orderkey", is_key=True),
            ColumnRule("o_custkey", "o_custkey"),
            ColumnRule("o_orderstatus", script="constant", script_value="Q"),
        ),
        conditional=F.col("o_orderkey") % 2 == 0,
    )
    res = run_job_on_store(cat, root, [spec], with_changes=True)
    assert res["from_version"] == 1 and res["to_version"] == 2
    assert publish.table_keys(root, "orders") == ["o_orderkey"]

    # state matches the published table
    published = publish.read_table(spark, root, "orders")
    assert published.count() == res["state"]["orders"].count()

    # the change feed: every even key either updated (was present) or
    # inserted (was filtered out of v1); no deletes from an upsert
    changes = res["changes"]["orders"]
    kinds = {r["change_type"] for r in changes.select("change_type").distinct().collect()}
    assert kinds == {"insert", "update"}
    assert changes.filter(F.col("o_orderstatus") != "Q").count() == 0

    # CAS: a job publishing against a stale version raises
    import pytest as _pytest

    publish.publish_tables(
        spark, {"other": spark.createDataFrame([(1,)], "id bigint")}, root
    )
    stale = publish.current_manifest(root)["version"] - 1
    with _pytest.raises(publish.ConcurrentPublishError):
        publish.publish_tables(
            spark, {"orders": published}, root, expected_version=stale
        )


class _FrameCatalog(Catalog):
    """The fixture catalog plus in-memory source frames by name."""

    def __init__(self, spark, frames):
        super().__init__(spark, SF_DIR)
        self.frames = frames

    def table(self, name):
        return self.frames[name] if name in self.frames else super().table(name)


def _split_groups(staged):
    return staged.select(
        "product_id",
        F.posexplode(F.split("groups", ",")).alias("pos", "group_name"),
    ).select("product_id", "group_name", F.col("pos").cast("int").alias("pos"))


def _product_mapping() -> MappingSpec:
    """feed_products → products, its groups list swapped into
    product_groups as a relation output."""
    from dataintegration_ecomprovider_spark.plans.pipeline import RelationOutput

    return MappingSpec(
        "feed_products", "products",
        (ColumnRule("product_id", is_key=True), ColumnRule("product_name"),
         ColumnRule("groups")),
        virtual_columns=("groups",),
        relation_outputs=(
            RelationOutput("product_groups", _split_groups, ("product_id",)),
        ),
    )


def test_run_job_stages_each_mapping_once(spark):
    """Every consumer of a mapping's rows — here the relation output and
    the upsert — reads ONE materialization of the staging: the source
    chain runs once per row, not once per consumer."""
    n = 20
    seen = spark.sparkContext.accumulator(0)

    def count_row(i):
        seen.add(1)
        return f"g{i % 3},g{i % 5}"

    # nondeterministic, so the optimizer never duplicates the call within
    # one plan: the count is plan executions × rows
    groups = F.udf(count_row, "string").asNondeterministic()
    feed = spark.range(n).select(
        F.col("id").alias("product_id"),
        F.concat(F.lit("P"), F.col("id").cast("string")).alias("product_name"),
        groups("id").alias("groups"),
    )
    cat = _FrameCatalog(spark, {"feed_products": feed})
    state = run_job(
        cat,
        {
            "products": spark.createDataFrame(
                [], "product_id bigint, product_name string"),
            "product_groups": spark.createDataFrame(
                [], "product_id bigint, group_name string, pos int"),
        },
        [_product_mapping()],
    )
    assert state["products"].count() == n
    assert state["product_groups"].count() == 2 * n
    assert seen.value == n


def test_run_job_fold_order_matches_sequential_application(spark):
    """Tables fold concurrently, but within a table every step keeps
    mapping order: products' relation output swaps into product_groups
    BEFORE the later direct product_groups mapping upserts into it, and
    the orders upsert lands before the delete_incoming mapping."""
    frames = {
        "feed_products": spark.createDataFrame(
            [(2, "B2", "g1,g2"), (3, "c", "g3")],
            "product_id bigint, product_name string, groups string"),
        "feed_groups": spark.createDataFrame(
            [(2, "g2", 5), (4, "g9", 0)],
            "product_id bigint, group_name string, pos int"),
        "feed_orders": spark.createDataFrame(
            [(11, "U"), (13, "U")], "order_id bigint, status string"),
        "feed_order_deletes": spark.createDataFrame([(12,), (13,)], "order_id bigint"),
    }
    dest = {
        "products": spark.createDataFrame(
            [(1, "a"), (2, "b")], "product_id bigint, product_name string"),
        "product_groups": spark.createDataFrame(
            [(1, "g0", 0), (2, "old", 0)],
            "product_id bigint, group_name string, pos int"),
        "orders": spark.createDataFrame(
            [(10, "O"), (11, "O"), (12, "O")], "order_id bigint, status string"),
    }
    mappings = [
        _product_mapping(),
        MappingSpec(
            "feed_groups", "product_groups",
            (ColumnRule("product_id", is_key=True),
             ColumnRule("group_name", is_key=True), ColumnRule("pos")),
        ),
        MappingSpec(
            "feed_orders", "orders",
            (ColumnRule("order_id", is_key=True), ColumnRule("status")),
        ),
        MappingSpec(
            "feed_order_deletes", "orders", (ColumnRule("order_id", is_key=True),),
            delete_incoming=True,
        ),
    ]
    state = run_job(_FrameCatalog(spark, frames), dest, mappings)

    def rows(t):
        return sorted(tuple(r) for r in state[t].collect())

    assert rows("products") == [(1, "a"), (2, "B2"), (3, "c")]
    # swap first: product 2's groups become g1@0, g2@1, "old" goes;
    # then the direct upsert moves g2 to pos 5 and inserts product 4
    assert rows("product_groups") == [
        (1, "g0", 0), (2, "g1", 0), (2, "g2", 5), (3, "g3", 0), (4, "g9", 0),
    ]
    # upsert then delete: 13 is inserted and removed again
    assert rows("orders") == [(10, "O"), (11, "U")]


def test_run_job_staging_lives_in_callers_scope(spark):
    """The staging checkpoints — made on worker threads when several
    mappings stage at once — register in the CALLER's job_scope, and
    releasing that scope returns the persisted-RDD set to its baseline."""
    from dataintegration_ecomprovider_spark import runtime

    runtime.release_caches(spark)
    baseline = runtime.persistent_rdd_ids(spark)
    frames = {
        "feed_a": spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, v string"),
        "feed_b": spark.createDataFrame([(3, "z")], "k bigint, v string"),
    }
    cols = (ColumnRule("k", is_key=True), ColumnRule("v"))
    with runtime.job_scope() as scope:
        state = run_job(
            _FrameCatalog(spark, frames),
            {"a": spark.createDataFrame([], "k bigint, v string"),
             "b": spark.createDataFrame([], "k bigint, v string")},
            [MappingSpec("feed_a", "a", cols), MappingSpec("feed_b", "b", cols)],
        )
        assert sorted(tuple(r) for r in state["a"].collect()) == [(1, "x"), (2, "y")]
        assert [tuple(r) for r in state["b"].collect()] == [(3, "z")]
    staged = runtime.persistent_rdd_ids(spark) - baseline
    assert len(staged) == 2
    # nothing leaked to the module scope: only the job's scope frees them
    runtime._global_scope.release(spark)
    assert runtime.persistent_rdd_ids(spark) - baseline == staged
    scope.release(spark)
    assert runtime.persistent_rdd_ids(spark) == baseline
