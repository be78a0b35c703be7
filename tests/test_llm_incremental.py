"""Incremental corpus dedup (llm/incremental.py): ingest batches dedup
against a persistent signature index — O(batch) per ingest — and the index
lives in the versioned store, appended atomically per batch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.llm import dedup, incremental
from dataintegration_ecomprovider_spark.plans import publish


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


TEXTS = {
    "alpha": "the quick brown fox jumps over the lazy dog near the old river bank",
    "alpha2": "the quick brown fox jumps over the lazy dog near the old river bend",
    "beta": "pack my box with five dozen liquor jugs before the long winter night",
    "gamma": "machine learning pipelines deduplicate training corpora at massive scale",
}


def test_estimator_bounds_and_exact_match(spark):
    docs = _docs(spark, [(1, TEXTS["alpha"]), (2, TEXTS["alpha"]), (3, TEXTS["beta"])])
    sigs = dedup.minhash_signatures(docs)
    a = sigs.filter(F.col("id") == 1).select(F.col("sig").alias("sig_a"))
    for other, expect_one in ((2, True), (3, False)):
        b = sigs.filter(F.col("id") == other).select(F.col("sig").alias("sig_b"))
        est = (
            a.crossJoin(b)
            .select(incremental.estimated_jaccard(F.col("sig_a"), F.col("sig_b")).alias("e"))
            .collect()[0]["e"]
        )
        if expect_one:
            assert est == 1.0  # identical text -> identical signature
        else:
            assert est < 0.5


def test_first_batch_seeds_index_then_batches_dedup(spark):
    b1 = _docs(spark, [(1, TEXTS["alpha"]), (2, TEXTS["beta"])])
    step1 = incremental.dedup_batch_against_index(b1, None, None)
    assert step1["matches"] is None
    assert {r.doc_id for r in step1["kept"].collect()} == {1, 2}

    idx_sigs, idx_bands = step1["sigs"], step1["bands"]
    # batch 2: one exact dup of doc 1, one near-dup of doc 1, one novel
    b2 = _docs(
        spark,
        [(10, TEXTS["alpha"]), (11, TEXTS["alpha2"]), (12, TEXTS["gamma"])],
    )
    step2 = incremental.dedup_batch_against_index(b2, idx_sigs, idx_bands)
    matches = {(r.new_id, r.corpus_id) for r in step2["matches"].collect()}
    assert (10, 1) in matches
    assert (11, 1) in matches          # near-dup caught via band collision
    kept2 = {r.doc_id for r in step2["kept"].collect()}
    assert kept2 == {12}

    # signature/band rows returned only for KEPT docs — the index grows by
    # novel documents exactly
    assert {r.id for r in step2["sigs"].collect()} == {12}
    assert {r.id for r in step2["bands"].select("id").distinct().collect()} == {12}


def test_ingest_loop_through_versioned_store(spark, tmp_path):
    """Three batches through the store: per batch, matches drop dups, the
    kept docs + index rows publish atomically (insert-only merges), and
    the final corpus holds exactly the novel documents."""
    root = str(tmp_path / "store")
    batches = [
        [(1, TEXTS["alpha"]), (2, TEXTS["beta"])],
        [(10, TEXTS["alpha"]), (11, TEXTS["gamma"])],     # 10 dups 1
        [(20, TEXTS["gamma"]), (21, TEXTS["alpha2"])],    # 20 dups 11, 21 ~ 1
    ]
    for i, rows in enumerate(batches):
        batch = _docs(spark, rows)
        if i == 0:
            step = incremental.dedup_batch_against_index(batch, None, None)
        else:
            step = incremental.dedup_batch_against_index(
                batch,
                publish.read_table(spark, root, "minhash_sigs"),
                publish.read_table(spark, root, "minhash_bands"),
            )
        if i == 0:
            publish.publish_tables(
                spark,
                {
                    "corpus": step["kept"],
                    "minhash_sigs": step["sigs"],
                    "minhash_bands": step["bands"],
                },
                root,
                table_keys={"corpus": ["doc_id"], "minhash_sigs": ["id"]},
            )
        else:
            # append-only growth (one version per table per ingest; a real
            # deployment would publish all three in one publish_tables —
            # merge_into used here to exercise the insert-only path)
            publish.merge_into(
                spark, root, "corpus", step["kept"], ["doc_id"],
                update_existing=False,
            )
            publish.merge_into(
                spark, root, "minhash_sigs", step["sigs"], ["id"],
                update_existing=False,
            )
            publish.merge_into(
                spark, root, "minhash_bands", step["bands"], ["id", "band"],
                update_existing=False,
            )

    corpus_ids = {r.doc_id for r in publish.read_table(spark, root, "corpus").collect()}
    assert corpus_ids == {1, 2, 11}  # 10, 20 exact dups; 21 near-dups 1
    idx_ids = {r.id for r in publish.read_table(spark, root, "minhash_sigs").collect()}
    assert idx_ids == corpus_ids
    # band table consistent with the signature table
    band_ids = {
        r.id
        for r in publish.read_table(spark, root, "minhash_bands")
        .select("id").distinct().collect()
    }
    assert band_ids == corpus_ids


def test_index_band_join_uses_bucketed_layout(spark, tmp_path):
    """The scale path: the index band table published BUCKETED on
    (band, bucket) makes the candidate join read co-located buckets — no
    Exchange on the corpus side of the join."""
    root = str(tmp_path / "store")
    corpus = _docs(
        spark, [(i, f"{TEXTS['alpha']} variant {i}") for i in range(20)]
    )
    sigs = dedup.minhash_signatures(corpus)
    bands = dedup.band_buckets(sigs)
    publish.publish_tables(
        spark,
        {"minhash_bands": bands, "minhash_bands_plain": bands},
        root,
        bucket_keys={"minhash_bands": ["band", "bucket"]}, num_buckets=4,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        idx_bands = publish.read_table(spark, root, "minhash_bands")
        batch = _docs(spark, [(100, TEXTS["alpha"])])
        new_bands = dedup.band_buckets(dedup.minhash_signatures(batch))

        def n_exchanges(index_side):
            joined = new_bands.join(
                index_side.withColumnRenamed("id", "corpus_id"), ["band", "bucket"]
            )
            return joined._jdf.queryExecution().executedPlan().toString().count("Exchange")

        # the same join against the same rows stored UNBUCKETED shuffles
        # the corpus side; the bucketed index contributes ZERO Exchanges —
        # only the batch side's own shuffles remain
        plain = publish.read_table(spark, root, "minhash_bands_plain")
        assert n_exchanges(idx_bands) == n_exchanges(plain) - 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_index_store_roundtrip_matches_inline(spark, tmp_path):
    """ivf_index published to the store and served via ivf_topk_from_index
    must produce exactly the inline ivf_topk results (the index is the
    same computation, persisted once instead of per query batch)."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from tests.conftest import SF_DIR

    emb = Catalog(spark, SF_DIR).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5)

    inline = similarity.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2)

    root = str(tmp_path / "store")
    idx = similarity.ivf_index(emb, n_centroids=8)
    publish.publish_tables(
        spark,
        {"ivf_centroids": idx["centroids"], "ivf_cells": idx["cells"]},
        root,
        bucket_keys={"ivf_cells": ["cid"]},
        num_buckets=4,
    )
    served = similarity.ivf_topk_from_index(
        queries,
        publish.read_table(spark, root, "ivf_centroids"),
        publish.read_table(spark, root, "ivf_cells"),
        k=3, n_probe=2,
    )
    a = {tuple(r) for r in inline.collect()}
    b = {tuple(r) for r in served.collect()}
    assert a == b and a

    # the bucketed cells table serves the probe join without a corpus-side
    # shuffle: same join against the same rows stored unbucketed has one
    # more Exchange
    publish.publish_tables(spark, {"ivf_cells_plain": idx["cells"]}, root)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def n_exchanges(cells):
            df = similarity.ivf_topk_from_index(
                queries, publish.read_table(spark, root, "ivf_centroids"),
                cells, k=3, n_probe=2,
            )
            return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

        bucketed = n_exchanges(publish.read_table(spark, root, "ivf_cells"))
        plain = n_exchanges(publish.read_table(spark, root, "ivf_cells_plain"))
        assert bucketed == plain - 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_sq8_index_roundtrip_recall(spark, tmp_path):
    """IVF-SQ8: a quantized index publishes/reads back through the store
    (int codes survive parquet), cells carry integral codes, and serving
    recall vs the full-precision IVF stays high on the fixture."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from tests.conftest import SF_DIR

    emb = Catalog(spark, SF_DIR).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    full = similarity.ivf_topk(emb, queries, k=5, n_centroids=8)
    idx = similarity.ivf_index(emb, n_centroids=8, quantized=True)
    root = str(tmp_path / "sq8")
    publish.publish_tables(
        spark, {"cent": idx["centroids"], "cells": idx["cells"]}, root,
        bucket_keys={"cells": ["cid"]}, num_buckets=4,
    )
    served = similarity.ivf_topk_from_index(
        queries,
        publish.read_table(spark, root, "cent"),
        publish.read_table(spark, root, "cells"),
        k=5, quantized=True,
    )
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    s = {(r["query_id"], r["neighbor_id"]) for r in served.collect()}
    assert len(f & s) / len(f) >= 0.6

    codes = publish.read_table(spark, root, "cells").select(
        F.array_max("cand_vec").alias("hi"), F.array_min("cand_vec").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).first()
    assert codes["hi"] <= 127 and codes["lo"] >= -128


def test_incremental_topic_assignment_is_stable_and_o_batch(spark, tmp_path):
    """Incremental topic maintenance (similarity.assign_to_index): batch 2
    assigns against the PERSISTED centroids without touching batch 1 —
    batch 1's stored (vec_id, cid, csim) rows stay byte-stable through
    the second ingest, the union equals clustering-then-assigning in one
    shot, and the batch-2 plan touches only the batch and the broadcast
    centroid table (no corpus scan, no corpus shuffle)."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity

    n, dims = 120, 8
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.sin((F.col("id") + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    batch2 = emb.filter(F.col("vec_id") % 2 != 0)

    idx = similarity.ivf_index(batch1, n_centroids=8, portable=True,
                               refine_iters=2)
    root = str(tmp_path / "topics")
    seed = similarity.assign_to_index(batch1, idx["centroids"])
    publish.publish_tables(
        spark,
        {"topic_centroids": idx["centroids"], "topic_assignments": seed},
        root, table_keys={"topic_assignments": ["vec_id"]},
    )
    seed_rows = {r["vec_id"]: (r["cid"], r["csim"]) for r in seed.collect()}

    cent = publish.read_table(spark, root, "topic_centroids")
    delta = similarity.assign_to_index(batch2, cent)
    publish.merge_into(spark, root, "topic_assignments", delta)

    merged = publish.read_table(spark, root, "topic_assignments")
    got = {r["vec_id"]: (r["cid"], r["csim"]) for r in merged.collect()}
    assert len(got) == n
    # batch-1 rows byte-stable through the second ingest
    assert {v: got[v] for v in seed_rows} == seed_rows
    # two-batch ingest == one-shot assignment of the full corpus against
    # the same centroids
    oneshot = {
        r["vec_id"]: (r["cid"], r["csim"])
        for r in similarity.assign_to_index(emb, cent).collect()
    }
    assert got == oneshot

    # O(batch) plan shape: one broadcast join, no shuffle Exchange on the
    # batch side beyond the top-1 window's own partitioning
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_recenter_topics_is_drift_gated(spark, tmp_path):
    """recenter_topics: the O(corpus) rebuild runs only when the stored
    assignments' mean cosine-to-centroid has degraded below the
    threshold (one small agg over assignments — the recluster() gating
    pattern); after the rebuild the mean improves and the gate skips."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity

    n, dims = 100, 8
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 10 + 1) * (i + 3)).cast("double"),
        ).alias("embedding"),
    )
    # seed the loop from a tiny, unrepresentative first batch
    batch1 = emb.filter(F.col("vec_id") < 8)
    idx = similarity.ivf_index(batch1, n_centroids=4, refine_iters=1)
    root = str(tmp_path / "topics")
    publish.publish_tables(
        spark,
        {"topic_centroids": idx["centroids"],
         "topic_assignments": similarity.assign_to_index(batch1, idx["centroids"])},
        root, table_keys={"topic_assignments": ["vec_id"]},
    )
    # ingest the rest incrementally against the stale centroids
    cent = publish.read_table(spark, root, "topic_centroids")
    publish.merge_into(
        spark, root, "topic_assignments",
        similarity.assign_to_index(emb.filter(F.col("vec_id") >= 8), cent),
    )
    before = publish.read_table(spark, root, "topic_assignments")
    mean_before = before.agg(F.avg("csim")).collect()[0][0]

    # healthy threshold → skip (no rebuild, version unchanged)
    v0 = publish.current_manifest(root)["version"]
    res = similarity.recenter_topics(
        spark, root, emb, n_clusters=8, iters=1,
        min_mean_csim=mean_before - 0.01,
    )
    assert res["recentered"] is False
    assert res["mean_csim"] == pytest.approx(mean_before)
    assert res["measured"] is True  # first probe at this version runs the agg
    assert publish.current_manifest(root)["version"] == v0

    # degraded threshold → rebuild over the full corpus, atomically
    res = similarity.recenter_topics(
        spark, root, emb, n_clusters=8, iters=1,
        min_mean_csim=min(0.999999, mean_before + 0.01),
    )
    assert res["recentered"] and res["version"] == v0 + 1
    after = publish.read_table(spark, root, "topic_assignments")
    assert after.count() == n
    mean_after = after.agg(F.avg("csim")).collect()[0][0]
    assert mean_after >= mean_before  # recentering can only tighten fit


def test_maintain_store_recenters_topics_when_drifted(spark, tmp_path):
    """maintain_store(topic_specs=...): the nightly pass evaluates topic
    drift for free (one agg over the stored assignments) and rebuilds +
    republishes the index only below the threshold — the recluster_specs
    gating pattern applied to the incremental topic loop.  The corpus is
    itself a store table, so the spec is pure JSON-able config."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity

    n, dims = 80, 8
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 8 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    batch1 = emb.filter(F.col("vec_id") < 6)
    idx = similarity.ivf_index(batch1, n_centroids=3, refine_iters=1)
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"embeddings": emb,
         "topic_centroids": idx["centroids"],
         "topic_assignments": similarity.assign_to_index(batch1, idx["centroids"])},
        root, table_keys={"topic_assignments": ["vec_id"]},
    )
    cent = publish.read_table(spark, root, "topic_centroids")
    publish.merge_into(
        spark, root, "topic_assignments",
        similarity.assign_to_index(emb.filter(F.col("vec_id") >= 6), cent),
    )
    mean_before = (
        publish.read_table(spark, root, "topic_assignments")
        .agg(F.avg("csim")).collect()[0][0]
    )

    # healthy → the pass reports the measured mean and skips the rebuild
    v0 = publish.current_manifest(root)["version"]
    spec = {"corpus_table": "embeddings", "n_clusters": 6, "iters": 1}
    report = publish.maintain_store(
        spark, root,
        topic_specs=[{**spec, "min_mean_csim": mean_before - 0.01}],
    )
    assert report["errors"] == {}
    assert report["topics"]["topic_assignments"]["recentered"] is False
    assert publish.current_manifest(root)["version"] == v0

    # degraded → rebuilt from the store-resident corpus, atomically
    report = publish.maintain_store(
        spark, root,
        topic_specs=[{**spec,
                      "min_mean_csim": min(0.999999, mean_before + 0.01)}],
    )
    assert report["errors"] == {}
    res = report["topics"]["topic_assignments"]
    assert res["recentered"] is True
    assert publish.read_table(spark, root, "topic_assignments").count() == n
    mean_after = (
        publish.read_table(spark, root, "topic_assignments")
        .agg(F.avg("csim")).collect()[0][0]
    )
    assert mean_after >= mean_before


def test_recenter_topics_aborts_on_concurrent_ingest(spark, tmp_path, monkeypatch):
    """recenter_topics REPLACES the assignments table, so it CAS-guards
    the republish on the version observed at the measure step: an
    assign_to_index ingest committing mid-rebuild aborts the recenter
    (ConcurrentPublishError) instead of being silently overwritten —
    the ingest always wins, the next maintenance pass retries."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity
    from dataintegration_ecomprovider_spark.plans.publish import (
        ConcurrentPublishError,
    )

    n, dims = 40, 6
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 5 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    batch1 = emb.filter(F.col("vec_id") < 30)
    late = emb.filter(F.col("vec_id") >= 30)
    idx = similarity.ivf_index(batch1, n_centroids=3, refine_iters=1)
    root = str(tmp_path / "topics")
    publish.publish_tables(
        spark,
        {"topic_centroids": idx["centroids"],
         "topic_assignments": similarity.assign_to_index(batch1, idx["centroids"])},
        root, table_keys={"topic_assignments": ["vec_id"]},
    )

    real_ivf_index = similarity.ivf_index

    def ivf_index_with_concurrent_ingest(*args, **kwargs):
        # a second writer lands a new ingest batch while the rebuild runs
        cent = publish.read_table(spark, root, "topic_centroids")
        publish.merge_into(
            spark, root, "topic_assignments",
            similarity.assign_to_index(late, cent),
        )
        return real_ivf_index(*args, **kwargs)

    monkeypatch.setattr(similarity, "ivf_index", ivf_index_with_concurrent_ingest)
    with pytest.raises(ConcurrentPublishError):
        similarity.recenter_topics(spark, root, batch1, n_clusters=3, iters=1)
    # the concurrent ingest survived; nothing of the aborted rebuild shows
    assert (
        publish.read_table(spark, root, "topic_assignments").count() == n
    )


def test_maintain_store_bootstraps_missing_topic_index(spark, tmp_path):
    """A topic_specs entry over a store that has the corpus but no index
    yet bootstraps it on the first pass (the drift gate treats a missing
    assignments table as maximally drifted) — so declaring the spec is
    all a new deployment configures."""
    from pyspark.sql import functions as F

    n, dims = 30, 6
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 4 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    root = str(tmp_path / "store")
    publish.publish_tables(spark, {"embeddings": emb}, root)
    report = publish.maintain_store(
        spark, root,
        topic_specs=[{"corpus_table": "embeddings", "n_clusters": 4,
                      "iters": 1, "min_mean_csim": 0.95}],
    )
    assert report["errors"] == {}
    assert report["topics"]["topic_assignments"]["recentered"] is True
    assert publish.read_table(spark, root, "topic_assignments").count() == n
    assert publish.read_table(spark, root, "topic_centroids").count() <= 4

def test_recenter_drift_probe_is_version_gated(spark, tmp_path, monkeypatch):
    """The drift probe is VERSION-GATED (round 7): a maintenance pass
    that finds the store version unchanged since the last measured pass
    reuses the recorded (version, mean) pair from the sync-state file
    and runs ZERO Spark jobs — proven by poisoning publish.read_table,
    the only route recenter_topics has to the assignments table.  Any
    commit (even to an unrelated table) re-arms the probe."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity

    n, dims = 40, 6
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 4 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    idx = similarity.ivf_index(emb, n_centroids=4, refine_iters=1)
    root = str(tmp_path / "topics")
    publish.publish_tables(
        spark,
        {"topic_centroids": idx["centroids"],
         "topic_assignments": similarity.assign_to_index(emb, idx["centroids"])},
        root, table_keys={"topic_assignments": ["vec_id"]},
    )

    # pass 1: first probe at this version measures (one small agg)
    res1 = similarity.recenter_topics(
        spark, root, emb, n_clusters=4, iters=1, min_mean_csim=-1.1
    )
    assert res1["recentered"] is False and res1["measured"] is True
    assert res1["measured_version"] == publish.current_manifest(root)["version"]

    # pass 2, store idle: the gate must not touch Spark at all
    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("idle topic probe ran a Spark read")

    real_read_table = publish.read_table
    monkeypatch.setattr(publish, "read_table", boom)
    res2 = similarity.recenter_topics(
        spark, root, emb, n_clusters=4, iters=1, min_mean_csim=-1.1
    )
    monkeypatch.setattr(publish, "read_table", real_read_table)
    assert res2["recentered"] is False and res2["measured"] is False
    assert res2["mean_csim"] == pytest.approx(res1["mean_csim"])

    # any commit bumps the store version and re-arms the probe
    publish.publish_tables(
        spark, {"unrelated": spark.range(3).withColumnRenamed("id", "k")}, root
    )
    res3 = similarity.recenter_topics(
        spark, root, emb, n_clusters=4, iters=1, min_mean_csim=-1.1
    )
    assert res3["measured"] is True
    assert res3["mean_csim"] == pytest.approx(res1["mean_csim"])


def test_maintain_topic_assignments_follows_cdc(spark, tmp_path):
    """maintain_topic_assignments: the assignments table is a
    CDC-maintained view of the embeddings table — inserts assign,
    updates re-assign, deletes RETRACT (no stale rows), each refresh an
    O(changed rows) MoR commit — and the maintained state always equals
    a one-shot assign_to_index of the current source against the
    persisted centroids."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity

    n, dims = 90, 6
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.sin((F.col("id") % 9 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    batch1 = emb.filter(F.col("vec_id") % 2 == 0)
    idx = similarity.ivf_index(batch1, n_centroids=4, refine_iters=1)
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"embeddings": batch1, "topic_centroids": idx["centroids"]},
        root, table_keys={"embeddings": ["vec_id"]},
    )
    cent = publish.read_table(spark, root, "topic_centroids")

    def expect_current():
        src = publish.read_table(spark, root, "embeddings")
        return {
            r["vec_id"]: (r["cid"], r["csim"])
            for r in similarity.assign_to_index(src, cent).collect()
        }

    def got():
        return {
            r["vec_id"]: (r["cid"], r["csim"])
            for r in publish.read_table(
                spark, root, "topic_assignments"
            ).collect()
        }

    # seed, then noop while the source is quiet
    assert similarity.maintain_topic_assignments(spark, root)["mode"] == "seed"
    assert got() == expect_current()
    assert similarity.maintain_topic_assignments(spark, root)["mode"] == "empty"
    assert similarity.maintain_topic_assignments(spark, root)["mode"] == "noop"

    # insert batch 2 (MoR commit) -> delta refresh scores only the batch
    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    assert similarity.maintain_topic_assignments(spark, root)["mode"] == "delta"
    assert got() == expect_current()

    # curation pass: delete every fifth doc, re-embed (negate) every
    # seventh -- one MoR commit carrying updates + delete markers
    cur = publish.read_table(spark, root, "embeddings")
    updated = cur.filter(
        (F.col("vec_id") % 7 == 1) & (F.col("vec_id") % 5 != 3)
    ).withColumn("embedding", F.transform(F.col("embedding"), lambda x: -x))
    deleted = cur.filter(F.col("vec_id") % 5 == 3).select("vec_id")
    publish.merge_into_mor(
        spark, root, "embeddings", updated, deletes=deleted
    )
    assert similarity.maintain_topic_assignments(spark, root)["mode"] == "delta"
    final = got()
    assert final == expect_current()
    # deleted documents are RETRACTED, not left stale
    live = {r["vec_id"] for r in publish.read_table(
        spark, root, "embeddings").select("vec_id").collect()}
    assert set(final) == live
    assert not any(v % 5 == 3 for v in final)
    # updated documents were genuinely re-scored (negation flips cosine)
    flipped = [v for v in final if v % 7 == 1 and v % 5 != 3]
    assert flipped, "test corpus must contain updated rows"

    # the view write path is merge-on-read: refreshes append deltas to
    # the assignments entry instead of rewriting the table
    entry = publish.current_manifest(root)["tables"]["topic_assignments"]
    assert entry.get("deltas"), "refresh should commit MoR deltas"


def test_declared_topics_view_refreshes_with_store(spark, tmp_path):
    """A 'topics' declaration makes the assignment view part of the
    store's self-contained view DAG: maintain_store (no caller specs)
    seeds it, and a later pass consumes the embeddings CDC — deletes
    retract assignments with no per-call wiring."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity
    from dataintegration_ecomprovider_spark.plans import materialize

    n, dims = 40, 6
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 5 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    idx = similarity.ivf_index(emb, n_centroids=4, refine_iters=1)
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"embeddings": emb, "topic_centroids": idx["centroids"]},
        root, table_keys={"embeddings": ["vec_id"]},
    )
    materialize.declare_view(
        root, "topics", src="embeddings", dst="topic_assignments"
    )

    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["topic_assignments"]["mode"] == "seed"
    assert publish.read_table(spark, root, "topic_assignments").count() == n

    publish.merge_into_mor(
        spark, root, "embeddings",
        emb.limit(0),
        deletes=emb.filter(F.col("vec_id") < 10).select("vec_id"),
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["topic_assignments"]["mode"] == "delta"
    left = publish.read_table(spark, root, "topic_assignments")
    assert {r["vec_id"] for r in left.select("vec_id").collect()} == set(
        range(10, n)
    )

def test_maintain_dedup_index_follows_cdc(spark, tmp_path):
    """maintain_dedup_index: the MinHash signature/band tables are a
    CDC-maintained view of the corpus — edits re-shingle, deletes (and
    edits that empty the text) RETRACT both side tables, and the
    maintained index always equals a from-scratch rebuild over the
    current corpus, so a batch matched against it can no longer dup
    against removed documents."""
    from dataintegration_ecomprovider_spark.llm import incremental

    rows = [
        (1, TEXTS["alpha"]), (2, TEXTS["beta"]), (3, TEXTS["gamma"]),
        (4, TEXTS["alpha2"]), (5, "standalone utterly unique content here"),
    ]
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"documents": _docs(spark, rows)}, root,
        table_keys={"documents": ["doc_id"]},
    )

    def rebuilt():
        cur = publish.read_table(spark, root, "documents")
        sigs = dedup.minhash_signatures(cur)
        return (
            {r["id"]: tuple(r["sig"]) for r in sigs.collect()},
            {(r["id"], r["band"]): r["bucket"]
             for r in dedup.band_buckets(sigs).collect()},
        )

    def stored():
        return (
            {r["id"]: tuple(r["sig"]) for r in publish.read_table(
                spark, root, "minhash_sigs").collect()},
            {(r["id"], r["band"]): r["bucket"] for r in publish.read_table(
                spark, root, "minhash_bands").collect()},
        )

    assert incremental.maintain_dedup_index(spark, root)["mode"] == "seed"
    assert stored() == rebuilt()
    assert incremental.maintain_dedup_index(spark, root)["mode"] == "empty"
    assert incremental.maintain_dedup_index(spark, root)["mode"] == "noop"

    # curation: delete doc 2, edit doc 3, blank doc 5 (shingles vanish),
    # insert doc 6 — one MoR commit
    publish.merge_into_mor(
        spark, root, "documents",
        _docs(spark, [(3, TEXTS["gamma"] + " curated"), (5, "  "),
                      (6, TEXTS["beta"])]),
        deletes=_docs(spark, [(2, "")]).select("doc_id"),
    )
    assert incremental.maintain_dedup_index(spark, root)["mode"] == "delta"
    sigs, bands = stored()
    assert (sigs, bands) == rebuilt()
    # deleted AND blanked docs are fully retracted from BOTH tables
    assert 2 not in sigs and 5 not in sigs
    assert not any(k[0] in (2, 5) for k in bands)
    # edited doc re-shingled, insert indexed
    assert 3 in sigs and 6 in sigs

    # a batch that duplicates the DELETED doc 2 is now novel; one that
    # duplicates the still-present doc 1 still matches
    batch = _docs(spark, [(20, TEXTS["beta"]), (21, TEXTS["alpha"])])
    matches = incremental.match_against_index(
        dedup.minhash_signatures(batch),
        publish.read_table(spark, root, "minhash_sigs"),
        publish.read_table(spark, root, "minhash_bands"),
    )
    got = {(r["new_id"], r["corpus_id"]) for r in matches.collect()}
    assert (21, 1) in got
    assert (20, 2) not in got
    assert (20, 6) in got  # doc 6 carries beta's text now


def test_declared_minhash_view_refreshes_with_store(spark, tmp_path):
    """A 'minhash' declaration folds the dedup index into the store's
    self-contained view DAG: maintain_store seeds it and a later pass
    consumes the corpus CDC — no per-call wiring."""
    from dataintegration_ecomprovider_spark.llm import incremental
    from dataintegration_ecomprovider_spark.plans import materialize

    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"documents": _docs(spark, [(1, TEXTS["alpha"]), (2, TEXTS["beta"])])},
        root, table_keys={"documents": ["doc_id"]},
    )
    materialize.declare_view(root, "minhash", src="documents", dst="minhash_sigs")

    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["minhash_sigs"]["mode"] == "seed"

    publish.merge_into_mor(
        spark, root, "documents", _docs(spark, []).limit(0),
        deletes=_docs(spark, [(1, "")]).select("doc_id"),
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["minhash_sigs"]["mode"] == "delta"
    assert {r["id"] for r in publish.read_table(
        spark, root, "minhash_sigs").collect()} == {2}

def test_maintain_ivf_cells_follows_cdc(spark, tmp_path):
    """maintain_ivf_cells: the persisted ANN cell table follows the
    embeddings table through CDC — deleted vectors stop being served as
    neighbors, re-embedded vectors move to their new cell — and serving
    from the maintained index equals serving from an index whose cells
    were rebuilt from scratch over the current corpus."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity

    n, dims = 60, 6
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.sin((F.col("id") % 12 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    idx = similarity.ivf_index(emb, n_centroids=4, refine_iters=1)
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"embeddings": emb, "ivf_centroids": idx["centroids"]},
        root, table_keys={"embeddings": ["vec_id"]},
    )
    cent = publish.read_table(spark, root, "ivf_centroids")

    assert similarity.maintain_ivf_cells(spark, root)["mode"] == "seed"
    # the seeded cells equal ivf_index's own assignment pass
    seeded = {
        (r["neighbor_id"], r["cid"])
        for r in publish.read_table(spark, root, "ivf_cells").collect()
    }
    assert seeded == {
        (r["neighbor_id"], r["cid"]) for r in idx["cells"].collect()
    }

    # curation: delete vec_id % 4 == 1, negate (re-embed) vec_id % 9 == 2
    cur = publish.read_table(spark, root, "embeddings")
    publish.merge_into_mor(
        spark, root, "embeddings",
        cur.filter((F.col("vec_id") % 9 == 2) & (F.col("vec_id") % 4 != 1))
           .withColumn("embedding",
                       F.transform(F.col("embedding"), lambda x: -x)),
        deletes=cur.filter(F.col("vec_id") % 4 == 1).select("vec_id"),
    )
    assert similarity.maintain_ivf_cells(spark, root)["mode"] == "delta"

    cells = publish.read_table(spark, root, "ivf_cells")
    live = publish.read_table(spark, root, "embeddings")
    # retraction: no deleted vector remains in any cell
    assert {r["neighbor_id"] for r in cells.collect()} == {
        r["vec_id"] for r in live.collect()
    }
    # serving equality: maintained cells == cells rebuilt from scratch
    queries = live.filter(F.col("vec_id") < 8)
    serve = lambda c: {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_topk_from_index(
            queries, cent, c, k=3, n_probe=2
        ).collect()
    }
    rebuilt_cells = similarity._assign_to_centroids(
        live.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").cast("array<double>").alias("cand_vec")),
        cent, "neighbor_id", "cand_vec", keep=1,
    )
    assert serve(cells) == serve(rebuilt_cells)
    assert similarity.maintain_ivf_cells(spark, root)["mode"] == "empty"


def test_declared_ivf_view_refreshes_with_store(spark, tmp_path):
    """An 'ivf' declaration folds ANN cell maintenance into the store's
    view DAG — maintain_store seeds and then consumes embeddings CDC."""
    from pyspark.sql import functions as F

    from dataintegration_ecomprovider_spark.llm import similarity
    from dataintegration_ecomprovider_spark.plans import materialize

    n, dims = 30, 5
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.cos((F.col("id") % 6 + 1) * (i + 2)).cast("double"),
        ).alias("embedding"),
    )
    idx = similarity.ivf_index(emb, n_centroids=3)
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"embeddings": emb, "ivf_centroids": idx["centroids"]},
        root, table_keys={"embeddings": ["vec_id"]},
    )
    materialize.declare_view(root, "ivf", src="embeddings", dst="ivf_cells")

    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["ivf_cells"]["mode"] == "seed"

    publish.merge_into_mor(
        spark, root, "embeddings", emb.limit(0),
        deletes=emb.filter(F.col("vec_id") >= 20).select("vec_id"),
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["ivf_cells"]["mode"] == "delta"
    assert {r["neighbor_id"] for r in publish.read_table(
        spark, root, "ivf_cells").collect()} == set(range(20))

def test_maintain_text_index_retracts_shrunken_fanout(spark, tmp_path):
    """maintain_text_index: the inverted index follows the corpus —
    deleting a doc retracts all its postings, REPLACING a doc's text
    with fewer words retracts exactly the postings the new text no
    longer produces (the stranded-row case a bare upsert gets wrong),
    and the maintained table always equals a from-scratch
    token_postings over the current corpus."""
    from dataintegration_ecomprovider_spark.llm import search

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta gamma"),
        (3, "unique words entirely here"),
    ]
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"documents": _docs(spark, rows)}, root,
        table_keys={"documents": ["doc_id"]},
    )

    def rebuilt():
        cur = publish.read_table(spark, root, "documents")
        return {
            (r["token"], r["doc_id"], r["tf"])
            for r in search.token_postings(cur).collect()
        }

    def stored():
        return {
            (r["token"], r["doc_id"], r["tf"])
            for r in publish.read_table(spark, root, "token_postings").collect()
        }

    assert search.maintain_text_index(spark, root)["mode"] == "seed"
    assert stored() == rebuilt()
    assert ("alpha", 1, 1) in stored()

    # curation: delete doc 2, shrink doc 1 to two words, insert doc 4
    publish.merge_into_mor(
        spark, root, "documents",
        _docs(spark, [(1, "alpha alpha"), (4, "fresh content")]),
        deletes=_docs(spark, [(2, "")]).select("doc_id"),
    )
    assert search.maintain_text_index(spark, root)["mode"] == "delta"
    got = stored()
    assert got == rebuilt()
    # doc 2 fully retracted; doc 1's removed words retracted, tf updated
    assert not any(d == 2 for _, d, _ in got)
    assert ("beta", 1, 1) not in got and ("gamma", 1, 1) not in got
    assert ("alpha", 1, 2) in got
    assert ("fresh", 4, 1) in got

    # search serves only live text
    postings = publish.read_table(spark, root, "token_postings")
    hits = {
        r["doc_id"]: r["matched"]
        for r in search.search_postings(postings, ["beta", "alpha"]).collect()
    }
    assert hits == {1: 1}
    all_mode = search.search_postings(postings, ["unique", "words"], mode="all")
    assert [r["doc_id"] for r in all_mode.collect()] == [3]


def test_declared_postings_view_refreshes_with_store(spark, tmp_path):
    """A 'postings' declaration folds the inverted index into the store's
    self-contained view DAG — maintain_store seeds it and a later pass
    consumes the corpus CDC."""
    from dataintegration_ecomprovider_spark.plans import materialize

    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {"documents": _docs(spark, [(1, "hello world"), (2, "other text")])},
        root, table_keys={"documents": ["doc_id"]},
    )
    materialize.declare_view(
        root, "postings", src="documents", dst="token_postings"
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["token_postings"]["mode"] == "seed"

    publish.merge_into_mor(
        spark, root, "documents", _docs(spark, []).limit(0),
        deletes=_docs(spark, [(1, "")]).select("doc_id"),
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["token_postings"]["mode"] == "delta"
    assert {r["doc_id"] for r in publish.read_table(
        spark, root, "token_postings").collect()} == {2}


def test_bm25_incremental_matches_recompute(spark, tmp_path):
    """BM25 statistics (postings, doc lengths, per-term df) maintained
    incrementally through inserts, edits and deletes must yield EXACTLY
    the ranking a from-scratch recompute over the current corpus gives —
    including the chained view (term_df consumes token_postings' own
    CDC feed, documents → postings → df)."""
    from dataintegration_ecomprovider_spark.llm import search
    from dataintegration_ecomprovider_spark.plans import materialize

    rows = [
        (1, "spark shuffles data between stages and spills data to disk"),
        (2, "broadcast joins keep small data on every executor"),
        (3, "bm25 ranks documents by term frequency and length"),
        (4, "spark spark spark data data ranking"),
    ]
    root = str(tmp_path / "store")
    publish.publish_tables(
        spark, {"documents": _docs(spark, rows)}, root,
        table_keys={"documents": ["doc_id"]},
    )
    maintainers = (
        search.maintain_text_index,
        search.maintain_doc_lengths,
        search.maintain_term_df,
    )
    for fn in maintainers:
        assert fn(spark, root)["mode"] == "seed"

    def ranked_from_index(terms):
        return [
            (r["doc_id"], r["matched"], r["score"])
            for r in search.bm25_topk(
                publish.read_table(spark, root, "token_postings"),
                publish.read_table(spark, root, "doc_lengths"),
                publish.read_table(spark, root, "term_df"),
                terms, k=10,
            ).collect()
        ]

    def ranked_recomputed(terms):
        cur = publish.read_table(spark, root, "documents")
        postings = search.token_postings(cur)
        return [
            (r["doc_id"], r["matched"], r["score"])
            for r in search.bm25_topk(
                postings,
                search.doc_lengths(cur),
                materialize.aggregate_table(postings, ["token"], []),
                terms, k=10,
            ).collect()
        ]

    terms = ["spark", "data", "ranking"]
    assert ranked_from_index(terms) == ranked_recomputed(terms)

    # edit (shrinks doc 4's fan-out AND its length), delete doc 2,
    # insert doc 5 — every statistic must follow
    publish.merge_into_mor(
        spark, root, "documents",
        _docs(spark, [(4, "plain text now"), (5, "fresh data about spark")]),
        deletes=_docs(spark, [(2, "")]).select("doc_id"),
    )
    for fn in maintainers:
        assert fn(spark, root)["mode"] == "delta"
    got = ranked_from_index(terms)
    assert got == ranked_recomputed(terms)
    ids = [g[0] for g in got]
    assert 2 not in ids and 5 in ids and 4 not in ids  # 4 no longer matches
    # df followed the postings' own CDC: 'data' lost docs 2 and 4,
    # gained doc 5
    df_now = {
        r["token"]: r["cnt"]
        for r in publish.read_table(spark, root, "term_df")
        .filter(F.col("token").isin(terms)).collect()
    }
    assert df_now["data"] == 2 and df_now["spark"] == 2
    assert "ranking" not in df_now  # retracted to zero and dropped out


def test_declared_bm25_and_decon_stacks_refresh_in_order(spark, tmp_path):
    """Declaring the full ranked-search stack (postings → term_df,
    doc_lengths) and the decontamination stack (two shingle indexes →
    contamination) folds them into the store's view DAG: one
    maintain_store pass seeds everything in dependency order, a later
    pass consumes the corpus/benchmark CDC — no caller-shipped specs."""
    from dataintegration_ecomprovider_spark.llm import search
    from dataintegration_ecomprovider_spark.plans import materialize

    root = str(tmp_path / "store")
    publish.publish_tables(
        spark,
        {
            "documents": _docs(spark, [
                (1, "spark data pipelines shuffle data"),
                (2, "benchmark eval sentences live here"),
            ]),
            "benchmarks": spark.createDataFrame(
                [(100, "benchmark eval sentences live here")],
                "bench_id long, text string",
            ),
        },
        root,
        table_keys={"documents": ["doc_id"], "benchmarks": ["bench_id"]},
    )
    materialize.declare_view(
        root, "postings", src="documents", dst="token_postings"
    )
    materialize.declare_view(root, "doc_lengths", src="documents",
                             dst="doc_lengths")
    materialize.declare_view(root, "term_df", dst="term_df")
    materialize.declare_view(
        root, "shingles", src="documents", dst="corpus_shingles",
        id_col="doc_id",
    )
    materialize.declare_view(
        root, "shingles", src="benchmarks", dst="benchmark_shingles",
        id_col="bench_id",
    )
    materialize.declare_view(root, "contamination", dst="contamination")
    # dependency order: term_df after token_postings; contamination
    # after both shingle indexes
    order = materialize._view_refresh_order(materialize.declared_views(root))
    assert order.index("term_df") > order.index("token_postings")
    assert order.index("contamination") > order.index("corpus_shingles")
    assert order.index("contamination") > order.index("benchmark_shingles")

    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert all(v["mode"] == "seed" for v in report["views"].values())
    got = {r["doc_id"]: r["contaminated"]
           for r in publish.read_table(spark, root, "contamination").collect()}
    assert got == {1: False, 2: True}

    # corpus churn: new doc copying the benchmark; BM25 stats follow too
    publish.merge_into_mor(
        spark, root, "documents",
        _docs(spark, [(3, "benchmark eval sentences live here today")]),
    )
    report = publish.maintain_store(spark, root)
    assert report["errors"] == {}
    assert report["views"]["contamination"]["mode"] == "delta"
    assert report["views"]["term_df"]["mode"] == "delta"
    got = {r["doc_id"]: r["contaminated"]
           for r in publish.read_table(spark, root, "contamination").collect()}
    assert got[3] is True and got[1] is False
    top = search.bm25_topk(
        publish.read_table(spark, root, "token_postings"),
        publish.read_table(spark, root, "doc_lengths"),
        publish.read_table(spark, root, "term_df"),
        ["benchmark", "eval"], k=2,
    ).collect()
    assert {r["doc_id"] for r in top} == {2, 3}


def test_maintain_pq_codes_follows_corpus(spark, tmp_path):
    """Round 9: the PQ code table is a CDC-driven view — seed, O(batch)
    delta refresh, delete retraction, noop when nothing changed, and the
    maintained state always equals a from-scratch encode of the current
    corpus against the persisted codebook."""
    from dataintegration_ecomprovider_spark.llm import similarity
    from dataintegration_ecomprovider_spark.plans import publish

    from dataintegration_ecomprovider_spark.catalog import Catalog
    from tests.conftest import SF_DIR

    root = str(tmp_path / "store")
    emb = Catalog(spark, SF_DIR).table("embeddings")
    publish.publish_tables(
        spark, {"embeddings": emb.filter(F.col("vec_id") % 2 == 0)}, root,
        table_keys={"embeddings": ["vec_id"]},
    )
    similarity.publish_pq_codebook(spark, root, m=4, codebook_size=16)
    assert similarity.maintain_pq_codes(spark, root)["mode"] == "seed"
    # nothing changed since the seed: the refresh does no view work
    # ("empty" = version advanced by another table's commit, "noop" =
    # watermark already at head)
    assert similarity.maintain_pq_codes(spark, root)["mode"] in (
        "noop", "empty"
    )

    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    assert similarity.maintain_pq_codes(spark, root)["mode"] == "delta"
    cur = publish.read_table(spark, root, "embeddings")
    publish.merge_into_mor(
        spark, root, "embeddings", cur.limit(0),
        deletes=cur.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
    )
    assert similarity.maintain_pq_codes(spark, root)["mode"] == "delta"

    got = {r["vec_id"]: r["codes"]
           for r in publish.read_table(spark, root, "pq_codes").collect()}
    live = publish.read_table(spark, root, "embeddings")
    codebook = publish.read_table(spark, root, "pq_codebook")
    expect = {r["vec_id"]: r["codes"] for r in similarity._pq_encode(
        live, codebook, 16, "vec_id", "embedding"
    ).collect()}
    assert got == expect  # incremental == recompute
    assert all(v % 5 != 0 for v in got)  # deletions retracted


def test_ivfpq_index_serves_probed_cells_and_recall(spark):
    """Round 10: composed IVF+PQ — the serve path touches only probed
    cells' codes, re-ranked results hit a recall floor vs brute force,
    and raw-ADC candidates per query are bounded by the probed cells'
    sizes (the sublinearity claim vs flat PQ's whole-corpus ADC scan)."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from tests.conftest import SF_DIR

    emb = Catalog(spark, SF_DIR).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = similarity.ivfpq_index(
        emb, n_centroids=16, m=4, codebook_size=16, pq_iters=1
    )
    res = similarity.ivfpq_topk(
        queries, idx["centroids"], idx["codebook"], idx["codes"],
        k=5, n_probe=6, rerank=50, embeddings=emb,
    ).collect()
    assert len(res) == 50 and all(1 <= r["rank"] <= 5 for r in res)

    bf = {(r.query_id, r.neighbor_id)
          for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    got = {(r.query_id, r.neighbor_id) for r in res}
    # structureless 500-vector fixture: IVF cells carry no semantic
    # locality, so recall is probe-coverage-bound (6/16 cells); the
    # scale_probe's 10x run records the operative recall floors
    assert len(bf & got) / len(bf) >= 0.35

    # sublinear serve: ADC candidates touched = Σ probed |cell| < corpus
    cells = idx["codes"].groupBy("cid").count()
    probes = similarity._assign_to_centroids(
        queries.select(
            F.col("vec_id").alias("query_id"),
            similarity._unit(F.col("embedding").cast("array<double>")).alias("qv"),
        ),
        idx["centroids"], "query_id", "qv", keep=6,
    ).select("query_id", "cid")
    touched = (
        probes.join(cells, "cid").groupBy("query_id")
        .agg(F.sum("count").alias("cands"))
        .collect()
    )
    n = emb.count()
    assert all(t["cands"] < n for t in touched)  # never the full corpus


def test_pq_refined_codebook_improves_raw_adc_recall(spark):
    """Lloyd-trained sub-codebooks (pq_refine_codebook) beat the
    hash-rank sample on raw ADC recall, keep the (j, c) grid intact
    (empty entries hold their previous value — ADC flat-index alignment),
    and leave the encode plan unchanged."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from tests.conftest import SF_DIR

    emb = Catalog(spark, SF_DIR).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    bf = {(r.query_id, r.neighbor_id)
          for r in similarity.brute_force_topk(emb, queries, k=10).collect()}
    one = spark.createDataFrame(
        [(0, [1.0] * 64)], "cid long, cvec array<double>"
    ).repartition(1)

    def raw_recall(codebook):
        codes = similarity._pq_encode(
            emb, codebook, 16, "vec_id", "embedding"
        ).withColumn("cid", F.lit(0))
        got = {(r.query_id, r.neighbor_id) for r in similarity.ivfpq_topk(
            queries, one, codebook, codes, k=10, n_probe=1, rerank=None,
        ).collect()}
        return len(bf & got) / len(bf)

    idx = similarity.pq_index(emb, m=4, codebook_size=16)
    trained = similarity.pq_refine_codebook(emb, idx["codebook"], idx["sub"], iters=2)
    grid = {(r["j"], r["c"]) for r in trained.collect()}
    assert grid == {(j, c) for j in range(4) for c in range(16)}
    assert raw_recall(trained) > raw_recall(idx["codebook"])


def test_ivfpq_meta_round_trip_and_zero_job_serve(spark, tmp_path):
    """The four IVFPQ tables round-trip through the store in one commit;
    ivfpq_topk over the read-back tables with the ivfpq_index metadata
    dict ({"m", "k", "sub", "residual"}) submits no Spark job before the
    probe and returns exactly what the derive-from-codebook path
    returns."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from tests.conftest import SF_DIR

    root = str(tmp_path / "store")
    emb = Catalog(spark, SF_DIR).table("embeddings")
    idx = similarity.ivfpq_index(
        emb, n_centroids=8, m=4, codebook_size=8, pq_iters=1
    )
    meta = {key: idx[key] for key in ("m", "k", "sub", "residual")}
    assert (meta["m"], meta["k"], meta["residual"]) == (4, 8, False)
    rep = publish.publish_tables(
        spark,
        {"embeddings": emb,
         "ivfpq_centroids": idx["centroids"].repartition(1),
         "ivfpq_codebook": idx["codebook"],
         "ivfpq_codes": idx["codes"]},
        root,
        table_keys={"embeddings": ["vec_id"], "ivfpq_centroids": ["cid"],
                    "ivfpq_codebook": ["j", "c"], "ivfpq_codes": ["vec_id"]},
    )
    assert {"ivfpq_centroids", "ivfpq_codebook",
            "ivfpq_codes"} <= set(publish.current_manifest(root)["tables"])
    assert rep["version"] == publish.current_manifest(root)["version"]

    cents = publish.read_table(spark, root, "ivfpq_centroids")
    codebook = publish.read_table(spark, root, "ivfpq_codebook")
    codes = publish.read_table(spark, root, "ivfpq_codes")
    queries = emb.filter(F.col("vec_id") < 5)

    sc = spark.sparkContext
    group = "ivfpq-zero-job-serve"
    sc.setJobGroup(group, group)
    try:
        served = similarity.ivfpq_topk(
            queries, cents, codebook, codes, k=3, n_probe=4, index=meta
        )
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        with_meta = served.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    derived = similarity.ivfpq_topk(
        queries, cents, codebook, codes, k=3, n_probe=4
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, with_meta)) == sorted(map(tuple, derived))
    assert sorted(with_meta, key=key) == sorted(derived, key=key)


def _publish_ivfpq_geometry(spark, root, **index_kw):
    """Persist the centroids + codebook of an ivfpq_index over the
    store's embeddings; the code table is left to the maintainer."""
    from dataintegration_ecomprovider_spark.llm import similarity

    idx = similarity.ivfpq_index(
        publish.read_table(spark, root, "embeddings"), **index_kw
    )
    publish.publish_tables(
        spark,
        {"ivfpq_centroids": idx["centroids"].repartition(1),
         "ivfpq_codebook": idx["codebook"]},
        root,
        table_keys={"ivfpq_centroids": ["cid"], "ivfpq_codebook": ["j", "c"]},
    )


def test_maintain_ivfpq_codes_follows_corpus(spark, tmp_path):
    """Round 10: the IVFPQ code table (vec_id, cid, codes) is a
    CDC-driven view — seed, O(batch) delta refresh, delete retraction,
    and the maintained state always equals a from-scratch encode of the
    live corpus against the persisted centroids + codebook."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from tests.conftest import SF_DIR

    root = str(tmp_path / "store")
    emb = Catalog(spark, SF_DIR).table("embeddings")
    publish.publish_tables(
        spark, {"embeddings": emb.filter(F.col("vec_id") % 2 == 0)}, root,
        table_keys={"embeddings": ["vec_id"]},
    )
    _publish_ivfpq_geometry(spark, root, n_centroids=8, m=4,
                            codebook_size=8, pq_iters=1)
    assert similarity.maintain_ivfpq_codes(spark, root)["mode"] == "seed"

    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    assert similarity.maintain_ivfpq_codes(spark, root)["mode"] == "delta"
    cur = publish.read_table(spark, root, "embeddings")
    publish.merge_into_mor(
        spark, root, "embeddings", cur.limit(0),
        deletes=cur.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
    )
    assert similarity.maintain_ivfpq_codes(spark, root)["mode"] == "delta"

    got = {r["vec_id"]: (r["cid"], r["codes"]) for r in
           publish.read_table(spark, root, "ivfpq_codes").collect()}
    live = publish.read_table(spark, root, "embeddings")
    cents = publish.read_table(spark, root, "ivfpq_centroids")
    codebook = publish.read_table(spark, root, "ivfpq_codebook")
    expect = {r["vec_id"]: (r["cid"], r["codes"]) for r in
              similarity._ivfpq_encode(
                  live, cents, codebook, 16, "vec_id", "embedding"
              ).collect()}
    assert got == expect
    assert all(v % 5 != 0 for v in got)


def test_residual_ivfpq_beats_plain_on_clustered_data(spark):
    """faiss by_residual: encoding unit(v) - unit(centroid) spends the
    codebook's resolution on the part the coarse quantizer did not
    explain.  On CLUSTERED vectors (where cells are tight and residual
    norms are small) raw-ADC recall must beat non-residual encoding at
    the same m x k budget; shapes/CDC plumbing are unchanged."""
    from dataintegration_ecomprovider_spark.llm import similarity

    # 8 well-separated clusters of 60 vectors each in 32-dim: center
    # c has +5.0 in dims (4c..4c+3); members jitter deterministically
    rows = []
    for c in range(8):
        for i in range(60):
            vid = c * 60 + i
            vec = [0.1 * (((vid * 7 + d) % 11) - 5) for d in range(32)]
            for d in range(4 * c, 4 * c + 4):
                vec[d] += 5.0
            rows.append((vid, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") % 60 < 2)  # 2 per cluster
    bf = {(r.query_id, r.neighbor_id)
          for r in similarity.brute_force_topk(emb, queries, k=10).collect()}

    def raw_recall(residual):
        idx = similarity.ivfpq_index(
            emb, n_centroids=8, m=4, codebook_size=16,
            refine_iters=1, pq_iters=1, residual=residual,
        )
        got = {(r.query_id, r.neighbor_id) for r in similarity.ivfpq_topk(
            queries, idx["centroids"], idx["codebook"], idx["codes"],
            k=10, n_probe=2, rerank=None, residual=residual,
        ).collect()}
        return len(bf & got) / len(bf)

    plain, resid = raw_recall(False), raw_recall(True)
    assert resid > plain, (plain, resid)
    assert resid >= 0.5  # clustered fixture: residual ADC is usable raw


def test_declared_ivfpq_view_refreshes_with_store(spark, tmp_path):
    """Round 10: the IVFPQ code table is declarable — ONE maintenance
    pass (refresh_declared_views) keeps it current after ingests, with
    the dependency order placing it after its centroids/codebook
    sources."""
    from dataintegration_ecomprovider_spark.catalog import Catalog
    from dataintegration_ecomprovider_spark.llm import similarity
    from dataintegration_ecomprovider_spark.plans import materialize
    from tests.conftest import SF_DIR

    root = str(tmp_path / "store")
    emb = Catalog(spark, SF_DIR).table("embeddings")
    publish.publish_tables(
        spark, {"embeddings": emb.filter(F.col("vec_id") % 2 == 0)}, root,
        table_keys={"embeddings": ["vec_id"]},
    )
    _publish_ivfpq_geometry(spark, root, n_centroids=8, m=4, codebook_size=8)
    materialize.declare_view(root, "ivfpq", dst="ivfpq_codes")
    r1 = materialize.refresh_declared_views(spark, root)
    assert not r1["errors"] and r1["views"]["ivfpq_codes"]["mode"] == "seed"

    publish.merge_into_mor(
        spark, root, "embeddings", emb.filter(F.col("vec_id") % 2 != 0)
    )
    r2 = materialize.refresh_declared_views(spark, root)
    assert not r2["errors"] and r2["views"]["ivfpq_codes"]["mode"] == "delta"

    got = {r["vec_id"] for r in
           publish.read_table(spark, root, "ivfpq_codes").collect()}
    live = {r["vec_id"] for r in
            publish.read_table(spark, root, "embeddings").collect()}
    assert got == live
