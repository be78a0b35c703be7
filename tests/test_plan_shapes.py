"""Physical-plan shape guards for the scale properties the engine relies
on: predicate/projection pushdown to the parquet scan, broadcast dimension
joins, one staging scan in the single-pass upsert, shuffle-free map-only
sampling.  These assert PROPERTIES of the executed plan, not its exact
text, so they survive Catalyst version drift."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.operators import merge
from dataintegration_ecomprovider_spark.operators.export_views import products_export_view
from dataintegration_ecomprovider_spark.plans.read_queries import q_scan_projection
from dataintegration_ecomprovider_spark.llm.sampling import split_assign
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushes_filter_and_prunes_columns(spark):
    df = q_scan_projection(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # at least one real pushed filter, not an empty list
    assert not re.search(r"PushedFilters: \[\s*\]", plan), plan[:1500]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in scan"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # the projection needs few columns; the scan must not read the table wide
    assert len(read_cols) <= 6, f"scan reads too many columns: {read_cols}"


def test_products_export_joins_broadcast(spark):
    df = products_export_view(Catalog(spark, SF_DIR))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # DIMENSION joins must not fall back to shuffle joins; the only
    # shuffle join allowed is the per-product aggregate join-back keyed on
    # the product key (both sides are product-sized at scale, so SMJ/
    # shuffled-hash is the correct strategy there)
    for line in _plan(df).splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "partkey" in line, f"dim join shuffles: {line.strip()}"


def test_single_pass_upsert_scans_staging_once(spark):
    cat = Catalog(spark, SF_DIR)
    orders = cat.table("orders")
    dest = orders.filter(F.col("o_orderkey") % 3 != 0)
    staging = orders.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    one = _plan(merge.upsert(dest, staging, ["o_orderkey"]))
    two = _plan(merge.upsert_two_pass(dest, staging, ["o_orderkey"]))
    # orders.parquet appears once per scan subtree: single-pass = dest +
    # staging = 2 scans; two-pass re-reads staging (and dest) = more
    assert one.count("orders.parquet") == 2, one[:2000]
    assert two.count("orders.parquet") > 2


def test_split_assign_is_map_only(spark):
    docs = Catalog(spark, SF_DIR).table("documents")
    out = split_assign(docs, "doc_id", val_frac=0.1, test_frac=0.1)
    plan = _plan(out)
    assert "Exchange" not in plan, f"sampling shuffles:\n{plan[:2000]}"


def test_bucketed_merge_family_is_exchange_free(spark):
    """run_job(bucketed_staging=True)'s contract: once both merge sides
    are staged bucketed on the (normalized) keys, the WHOLE merge family
    — full-outer upsert, semi/anti delete-missing, CI string keys through
    the materialized __k_ columns — runs with zero Exchange nodes."""
    from dataintegration_ecomprovider_spark.operators import bucketing

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cat = Catalog(spark, SF_DIR)
        orders = cat.table("orders")
        d = bucketing.stage_for_merge(
            spark, orders.filter(F.col("o_orderkey") % 3 != 0),
            ["o_orderkey"], "tps_dst", 8)
        s = bucketing.stage_for_merge(
            spark, orders.filter(F.col("o_orderkey") % 2 == 0)
            .withColumn("o_orderstatus", F.lit("U")),
            ["o_orderkey"], "tps_stg", 8)
        assert "Exchange" not in _plan(merge.upsert(d, s, ["o_orderkey"]))
        assert "Exchange" not in _plan(merge.remove_missing(d, s, ["o_orderkey"]))
        assert "Exchange" not in _plan(merge.delete_incoming(d, s, ["o_orderkey"]))

        # case-insensitive STRING keys: bucketing on the materialized
        # __k_ norm column must be honored by the upsert condition
        cust = cat.table("customer")
        d2 = bucketing.stage_for_merge(
            spark, cust.select(F.col("c_name").alias("cust_name"), "c_custkey"),
            ["cust_name"], "tps_dst2", 8, case_insensitive=True)
        s2 = bucketing.stage_for_merge(
            spark, cust.filter(F.col("c_custkey") % 2 == 0)
            .select(F.upper("c_name").alias("cust_name"), "c_custkey"),
            ["cust_name"], "tps_stg2", 8, case_insensitive=True)
        plan = _plan(merge.upsert(d2, s2, ["cust_name"], case_insensitive=True))
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("tps_dst", "tps_stg", "tps_dst2", "tps_stg2"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_run_job_bucketed_matches_default(spark):
    """The bucketed staging path is a storage-layout change only — row-
    identical to the default path on the full two-mapping pipeline."""
    from dataintegration_ecomprovider_spark.operators.bucketing import drop_staging_tables
    from dataintegration_ecomprovider_spark.plans.write_queries import (
        q_pipeline_run_job, q_pipeline_run_job_bucketed,
    )

    a = q_pipeline_run_job(spark, SF_DIR).toPandas()
    b = q_pipeline_run_job_bucketed(spark, SF_DIR).toPandas()
    cols = sorted(a.columns)
    a = a[cols].sort_values(by=cols).reset_index(drop=True)
    b = b[cols].sort_values(by=cols).reset_index(drop=True)
    assert a.equals(b)
    assert drop_staging_tables(spark, "stage_q_u12") > 0


def test_u12_staging_prefix_is_process_unique():
    """Two engine processes sharing one spark-warehouse/ must not collide
    on the bucketed query's staging tables (a fixed prefix crashed
    concurrent bench + pytest runs with TASK_WRITE_FAILED): the prefix
    carries a per-process random suffix while still extending the shared
    'stage_q_u12' stem drop_staging_tables sweeps."""
    from dataintegration_ecomprovider_spark.plans import write_queries as wq

    assert re.fullmatch(r"stage_q_u12_[0-9a-f]{8}", wq.U12_STAGING_PREFIX)
    # a fresh derivation (= another process's import) yields a new name
    import uuid

    other = f"stage_q_u12_{uuid.uuid4().hex[:8]}"
    assert other != wq.U12_STAGING_PREFIX


def test_ci_keyed_publish_loop_stays_exchange_free(spark, tmp_path):
    """Case-insensitive STRING keys across job runs: run_job with
    keep_norm_columns=True -> publish bucketed on the __k_ norm column ->
    next run's merge against the published dest plans with no Exchange on
    the dest side (the layout round-trips)."""
    from dataintegration_ecomprovider_spark.plans import publish
    from dataintegration_ecomprovider_spark.plans.pipeline import (
        ColumnRule, MappingSpec, run_job,
    )
    from dataintegration_ecomprovider_spark.operators import bucketing, merge

    cat = Catalog(spark, SF_DIR)
    root = str(tmp_path / "store")
    dest0 = cat.table("customer").select(
        F.col("c_name").alias("cust_name"), "c_custkey"
    )
    spec = MappingSpec(
        source_table="customer",
        dest_table="customers",
        columns=(
            ColumnRule("cust_name", "c_name", is_key=True),
            ColumnRule("c_custkey", "c_custkey"),
        ),
        conditional=F.col("c_custkey") % 2 == 0,
    )
    state = run_job(
        cat, {"customers": dest0}, [spec],
        bucketed_staging=True, staging_buckets=8,
        staging_prefix="tci_run1", keep_norm_columns=True,
    )
    assert "__k_cust_name" in state["customers"].columns
    publish.publish_tables(
        spark, state, root,
        bucket_keys={"customers": ["__k_cust_name"]}, num_buckets=8,
    )

    dest = publish.read_table(spark, root, "customers")
    staging = bucketing.stage_for_merge(
        spark,
        cat.table("customer").select(
            F.upper("c_name").alias("cust_name"), "c_custkey"
        ).limit(500),
        ["cust_name"], "tci_stg2", 8, case_insensitive=True,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(merge.upsert(dest, staging, ["cust_name"], case_insensitive=True))
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS tci_stg2")
        bucketing.drop_staging_tables(spark, "tci_run1")


def test_unpartitioned_windows_read_bounded_inputs(spark):
    """The two single-partition (unpartitioned) windows in the engine are
    INTENTIONAL and bounded — their input is an aggregate whose row count
    is capped by construction, never the fact table (WindowExec's "No
    Partition Defined" warning is expected and harmless here; SCALE.md
    records it).  This pins the shape so a future unbounded global window
    fails loudly instead of hiding among known warnings."""
    from dataintegration_ecomprovider_spark.operators.surrogate import global_rank
    from dataintegration_ecomprovider_spark.plans.write_queries import (
        q_resolve_or_create,
    )

    cat = Catalog(spark, SF_DIR)

    # global_rank: the only global window runs over the per-range-partition
    # counts — ≤ num_partitions rows by construction
    ranked = global_rank(
        cat.table("orders"), [F.col("o_orderkey")], "rk", num_partitions=8
    )
    plan = _plan(ranked)
    assert "Window" in plan
    assert "hashaggregate(keys=[_gr_pid" in plan.lower().replace(" ", ""), (
        "global window must read the per-partition count aggregate:\n" + plan[:3000]
    )
    # runtime bound: the window input is one row per range partition —
    # the same aggregate global_rank windows over, rebuilt here
    from dataintegration_ecomprovider_spark import runtime

    n_window_rows = (
        cat.table("orders")
        .repartitionByRange(8, F.col("o_orderkey"))
        .select(F.spark_partition_id().alias("_gr_pid"))
        .distinct()
        .count()
    )
    ranked.count()  # materialize, then free the tracked range persist
    runtime.release_caches(spark)
    assert 0 < n_window_rows <= 8

    # resolve-or-create: the dense-rank window reads the DISTINCT unseen
    # keys (bounded by dimension cardinality), not the unresolved fact rows
    plan2 = _plan(q_resolve_or_create(spark, SF_DIR))
    assert "Window" in plan2
    assert "hashaggregate(keys=[c_nationkey" in plan2.lower().replace(" ", ""), (
        "rank window must read the distinct-key aggregate:\n" + plan2[:3000]
    )


def test_mor_reconstruction_prunes_columns(spark, tmp_path, monkeypatch):
    """Column pruning must push THROUGH merge-on-read reconstruction
    (anti-join + union): a 2-column projection over a wide MoR table
    reads only those columns from the base scan, and only the key from
    the anti-join's delta-key scan — at 100 TB the difference between
    reading 2 columns and the whole table.  A table that large is over
    MOR_READ_CACHE_MAX_BYTES, so its reads reconstruct every time; the
    budget is pinned to 0 to put this small table on that path.  Under
    the budget the merged state persists whole once, and a projection
    over it scans only its own columns from memory."""
    from dataintegration_ecomprovider_spark.plans import publish

    root = str(tmp_path / "store")
    df = spark.range(100).selectExpr(
        "id", "id*2 as a", "id*3 as b", "cast(id as string) as s"
    )
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["id"]})
    publish.merge_into_mor(
        spark, root, "t",
        spark.range(5).selectExpr("id", "id*7 as a", "id*9 as b", "'x' as s"),
    )
    cached = _plan(publish.read_table(spark, root, "t").select("id", "a"))
    memory_scan = [ln for ln in cached.splitlines() if "InMemoryTableScan" in ln]
    assert len(memory_scan) == 1 and "[id#" in memory_scan[0]
    assert ", a#" in memory_scan[0] and "b#" not in memory_scan[0]
    monkeypatch.setattr(publish, "MOR_READ_CACHE_MAX_BYTES", 0)
    plan = (
        publish.read_table(spark, root, "t")
        .select("id", "a")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [
        ln.strip() for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    assert len(scans) == 3  # base, delta keys (anti side), delta rows
    base_scan = [s for s in scans if "_delta" not in s][0]
    assert "[id#" in base_scan and ",b#" not in base_scan and ",s#" not in base_scan
    for s in scans:
        assert ",b#" not in s and ",s#" not in s, s


def test_join_ivm_refresh_broadcasts_delta_sized_keys(spark):
    """apply_join_delta with a delta-sized change set must execute every
    affected-key join (view anti, fact semi, FK probe) as a broadcast —
    no full-fact shuffle.  No hint is forced in the operator (an
    all-rows-changed refresh must degrade to a shuffle, not fail), so the
    broadcast decision is AQE's: execute, then assert the FINAL adaptive
    plan contains no sort-merge or shuffled-hash join."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    orders = Catalog(spark, SF_DIR).table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = Catalog(spark, SF_DIR).table("customer").select(
        "c_custkey", "c_name"
    )
    fact2 = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 997 == 0, F.lit(0.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    fact_changes = publish.diff_frames(orders, fact2, ["o_orderkey"])
    dim_changes = publish.diff_frames(
        cust, cust.filter(F.col("c_custkey") % 499 != 0), ["c_custkey"],
        include_old=True,
    )
    view = materialize.join_view(orders, cust, "o_custkey", "c_custkey")
    out = materialize.apply_join_delta(
        view, fact2, cust, fact_changes, dim_changes,
        ["o_orderkey"], "o_custkey", "c_custkey",
    )
    out.collect()  # finalize AQE on THIS DataFrame's query execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    for ln in plan.splitlines():
        # the view/fact/dim build joins may legitimately shuffle; the
        # affected-key joins are the ones keyed on __gk / __jk
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln) and (
            "__gk" in ln or "__jk" in ln
        ):
            raise AssertionError(f"affected-key join not broadcast: {ln}")
    assert "BroadcastHashJoin" in plan


def test_cluster_assignments_broadcasts_centroids(spark):
    """Topic clustering must keep IVF's scale shape: centroids broadcast
    (BroadcastNestedLoopJoin over ≤k rows), the corpus side never
    shuffles for the scoring join, and no SortMergeJoin appears."""
    from dataintegration_ecomprovider_spark.llm import similarity

    emb = Catalog(spark, SF_DIR).table("embeddings")
    out = similarity.cluster_assignments(emb, n_clusters=8, iters=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_token_postings_is_shuffle_free(spark):
    """The inverted-index build is entirely row-local (tokenize +
    in-array tf + one explode) — zero Exchange nodes, which is what
    makes it a legal maintain_rowwise_view build."""
    from dataintegration_ecomprovider_spark.llm.search import token_postings

    docs = Catalog(spark, SF_DIR).table("documents")
    plan = _plan(token_postings(docs))
    assert "Exchange" not in plan, f"postings build shuffles:\n{plan[:2000]}"


def test_apply_mixture_multiplies_rows_map_side(spark):
    """apply_mixture's corpus side is explode + filter behind a
    broadcast of the O(strata) plan — the only Exchange in the plan is
    the plan-side aggregate's, never a corpus shuffle, and the join is
    a BroadcastHashJoin."""
    from dataintegration_ecomprovider_spark.llm.sampling import (
        apply_mixture, mixture_plan,
    )

    docs = Catalog(spark, SF_DIR).table("documents").select(
        "doc_id", "lang", "n_chars"
    )
    plan_df = mixture_plan(
        docs, "lang", {"en": 0.5, "de": 0.5}, budget=1_000_000.0,
        weight_col=F.col("n_chars"),
    )
    plan = _plan(apply_mixture(docs, plan_df, "lang"))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    # no exchange downstream of the broadcast join: the explode/filter
    # runs in the scan stage (exchanges before the broadcast build the
    # tiny plan table and are O(strata))
    tail = plan.split("BroadcastHashJoin", 1)[0]
    assert "Generate" in plan  # the explode exists


def test_search_postings_filters_before_aggregating(spark):
    """Keyword search pushes the token filter into the postings scan —
    the aggregate sees only matching postings."""
    from dataintegration_ecomprovider_spark.llm.search import (
        search_postings, token_postings,
    )

    docs = Catalog(spark, SF_DIR).table("documents")
    postings = token_postings(docs)
    plan = _plan(search_postings(postings, ["the", "data"]))
    assert "HashAggregate" in plan


def test_string_agg_broadcasts_the_build_side(spark):
    """A1/A2: the post-aggregation frame is the BUILD side of the
    left-outer dimension join and must plan as a BroadcastHashJoin —
    hinting the PRESERVED side instead is unsupported for left-outer
    joins, so Spark silently discards it (HintErrorLogger) and plans a
    shuffle join; this pins the corrected orientation."""
    from dataintegration_ecomprovider_spark.plans.read_queries import (
        q_distinct_string_agg,
        q_string_agg,
    )

    for q in (q_string_agg, q_distinct_string_agg):
        plan = _plan(q(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]
