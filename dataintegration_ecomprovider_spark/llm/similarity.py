"""Similarity search over embedding columns (BASELINE north star).

- brute-force cosine top-k: the exact baseline.  Query set × candidate set
  as a broadcast-nested-loop of the (small) query side against the (huge)
  candidate side — at 100 TB the candidates never shuffle; each partition
  scores locally and a top-k aggregate (window or per-partition heap via
  AQE-sized partitions) reduces.
- lsh_bucketed: the scale path — random-hyperplane signs bucket vectors;
  only same-bucket pairs are scored.  Hyperplanes are derived
  deterministically from the dimension index (no RNG → retry-stable).

All arithmetic in double; similarities rounded to 6 before ranking so
results are reproducible across engines and summation orders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors per query (excluding self): columns
    (query_id, neighbor_id, similarity, rank).  Ranking on the rounded
    similarity with id tie-break — fully deterministic."""
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("query_vec"), F.col("cand_vec")), 6).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", F.col("rank").cast("int").alias("rank"))
    )


def hyperplane_bucket(vec: Column, planes: int = 8, portable: bool = False) -> Column:
    """Deterministic random-hyperplane LSH bucket id.

    Plane p's normal is pseudo-random ±1 per dimension, derived from
    xxhash64(p, dim) parity — no RNG state, identical across retries and
    cluster sizes.  bucket = sum over planes of sign_bit(p) << p.

    `portable=True` derives the parity from md5('p:d') (llm/portable.py)
    so a DuckDB oracle builds the identical planes.
    """
    if portable:
        from dataintegration_ecomprovider_spark.llm.portable import md5_int60

        def dim_sign(p: int):
            return lambda d: F.when(
                md5_int60(
                    F.concat_ws(":", F.lit(str(p)), d.cast("string"))
                ).bitwiseAND(F.lit(1))
                == 1,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))
    else:

        def dim_sign(p: int):
            # factory to avoid the (element, index) two-parameter lambda trap
            return lambda d: F.when(
                F.xxhash64(F.lit(p), d).bitwiseAND(F.lit(1)) == 1, F.lit(1.0)
            ).otherwise(F.lit(-1.0))

    def plane_sign(p: int) -> Column:
        signed = F.zip_with(
            vec.cast("array<double>"),
            F.transform(F.sequence(F.lit(0), F.size(vec) - 1), dim_sign(p)),
            lambda x, s: x * s,
        )
        total = F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)
        return F.when(total > 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0).cast("long"))

    return F.aggregate(
        F.array(*[plane_sign(p) for p in range(planes)]),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).alias("bucket")


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, similarity ≥
    threshold) — exact baseline.  Quadratic: use on a candidate slice or
    behind near_dup_pairs_lsh at scale."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("vec_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("vec_b")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
    )


def near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs, LSH-pruned: only vectors sharing a hyperplane
    bucket are compared.  The scale path — within-bucket self-join instead
    of the quadratic cross join; high-cosine pairs land in the same bucket
    with probability (1 - θ/π)^planes, tunable via `planes`."""
    tagged = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        hyperplane_bucket(F.col(vec_col), planes, portable).alias("bucket"),
    )
    a = tagged.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), "bucket")
    b = tagged.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("similarity"),
        )
        .filter(F.col("similarity") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def kmeans_refine(
    embeddings: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_means: int | None = None,
) -> DataFrame:
    """Lloyd k-means refinement of an IVF centroid seed: each iteration
    assigns every vector to its nearest centroid (broadcast centroids,
    partition-local scoring) and recomputes each cell's centroid as the
    per-dimension mean.  Returns (cid, cvec) with the same schema the
    `ivf_topk` picker produces, so it drops into the cell-assignment plan
    unchanged.

    Scale shape per iteration: one crossJoin against ≤n_centroids broadcast
    rows + a top-1 window on the vector id, then posexplode to
    (cid, dim, value) rows and a (cid, dim) mean — two shuffles, both keyed
    small.  The new centroids (k × dim doubles) are collected to the driver
    between iterations — a bounded action, the same loop structure Spark
    MLlib's KMeans uses — so the per-iteration plan stays flat instead of
    nesting k join-trees.  A cell that loses all members drops out
    (k shrinks), mirroring standard Lloyd behavior.  Deterministic: no RNG,
    ties broken by cid.

    `round_means=N` rounds each recomputed centroid component to N
    decimals: engines sum floating-point means in different orders, so a
    cross-engine value check (the `_portable` oracle twins) needs the
    iteration's only data-dependent floats pinned — at N=9 the rounding
    is far below any assignment decision yet above summation-order noise.
    Default None preserves full-precision means."""
    spark = embeddings.sparkSession
    vecs = embeddings.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    current = centroids.select("cid", F.col("cvec").cast("array<double>").alias("cvec"))
    for _ in range(iters):
        scored = vecs.crossJoin(F.broadcast(current)).select(
            "__vid", "vec", "cid",
            F.round(cosine(F.col("vec"), F.col("cvec")), 6).alias("csim"),
        )
        w = Window.partitionBy("__vid").orderBy(F.col("csim").desc(), F.col("cid").asc())
        assigned = (
            scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") == 1)
            .select("cid", F.posexplode("vec").alias("dim", "x"))
        )
        mean_col = (
            F.round(F.avg("x"), round_means)
            if round_means is not None
            else F.avg("x")
        )
        means = (
            assigned.groupBy("cid", "dim")
            .agg(mean_col.alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
        )
        rows = means.collect()  # bounded: ≤ n_centroids rows of dim doubles
        current = spark.createDataFrame(
            [(r.cid, r.cvec) for r in rows], "cid long, cvec array<double>"
        )
    return current


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: vectors are assigned to their nearest
    centroid cell; each query scores only the `n_probe` nearest cells.

    Centroids are picked by deterministic hash rank — the n_centroids
    smallest xxhash64(id) values — a uniform pseudo-random-but-stable
    sample that needs NO driver-side count (the old picker ran
    embeddings.count() at plan-build time, an extra full pass at 100 TB,
    and its `id % stride` filter assumed dense numeric ids).  Expressed as
    orderBy(hash).limit(n), which Catalyst executes as
    TakeOrderedAndProject: each partition keeps its local top-n, the driver
    merges — no global sort, no single-partition shuffle.  At scale a
    k-means refinement can replace the picker without touching the
    cell-assignment/probe plan (the shape is: broadcast centroids,
    partition-local assignment, shuffle once on cell id).  `portable=True`
    ranks centroids by md5 of the id string instead of xxhash64 so a
    DuckDB oracle picks the identical centroid set."""
    idx = ivf_index(
        embeddings, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
        portable=portable, refine_iters=refine_iters,
    )
    return ivf_topk_from_index(
        queries, idx["centroids"], idx["cells"], k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )


def _assign_to_centroids(
    df: DataFrame, centroids: DataFrame, idc: str, vecc: str, keep: int
) -> DataFrame:
    """Nearest-`keep` centroid assignment: broadcast the (small) centroid
    table, score partition-locally, rank per vector."""
    scored = df.crossJoin(F.broadcast(centroids)).select(
        F.col(idc),
        F.col(vecc),
        "cid",
        F.round(cosine(F.col(vecc), F.col("cvec")), 6).alias("csim"),
    )
    w = Window.partitionBy(idc).orderBy(F.col("csim").desc(), F.col("cid").asc())
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= keep)
        .drop("csim", "crank")
    )


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    refine_iters: int = 0,
    quantized: bool = False,
) -> dict[str, DataFrame]:
    """The PERSISTENT half of IVF: ``{"centroids": (cid, cvec), "cells":
    (cid, neighbor_id, cand_vec)}`` — the corpus-scale work (centroid pick
    or k-means refine + one nearest-centroid pass over every vector) done
    ONCE, not per query batch.  Publish both tables to the versioned store
    (cells bucketed on cid: every later probe join reads co-located cells
    with no corpus-side Exchange) and serve queries with
    ivf_topk_from_index — the ANN-serving pattern at 100 TB, where
    re-assigning the corpus per query batch is prohibitive.
    tests/test_llm_incremental.py proves the store round-trip is
    result-identical to the inline ivf_topk.

    `quantized=True` stores cells as 8-bit codes (see quantize): the
    faiss IVF-SQ8 layout — assignment stays full-precision, the
    PERSISTED corpus shrinks ~8x, probes score code-vs-code (serve with
    ivf_topk_from_index(quantized=True))."""
    if portable:
        from dataintegration_ecomprovider_spark.llm.portable import md5_int60

        rank_hash = md5_int60(F.col("cid").cast("string"))
    else:
        rank_hash = F.xxhash64(F.col("cid"))
    centroids = (
        embeddings.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
        .orderBy(rank_hash.asc(), F.col("cid").asc())
        .limit(n_centroids)
    )
    if refine_iters > 0:
        centroids = kmeans_refine(
            embeddings, centroids, iters=refine_iters, id_col=id_col,
            vec_col=vec_col,
            # portable builds are oracle-checked cross-engine: pin the
            # refined means against summation-order float noise
            round_means=9 if portable else None,
        )
    cells = _assign_to_centroids(
        embeddings.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("cand_vec")),
        centroids, "neighbor_id", "cand_vec", keep=1,
    )
    if quantized:
        cells = cells.withColumn("cand_vec", quantize(F.col("cand_vec")))
    return {"centroids": centroids, "cells": cells}


def ivf_topk_from_index(
    queries: DataFrame,
    centroids: DataFrame,
    cells: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
) -> DataFrame:
    """Serve approximate top-k from a prebuilt IVF index (ivf_index
    output, possibly read back from the versioned store): queries assign
    to their `n_probe` nearest cells (broadcast centroids), probe only
    those cells' vectors, rank.  O(queries × probed cells) — the corpus
    is touched only through the (bucketed) cells table.  `quantized=True`
    serves an ivf_index(quantized=True) layout: cell assignment stays
    full-precision, probe scoring quantizes the query so both sides score
    in code space."""
    probes = _assign_to_centroids(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).cast("array<double>").alias("query_vec")),
        centroids, "query_id", "query_vec", keep=n_probe,
    )
    if quantized:
        probes = probes.withColumn("query_vec", quantize(F.col("query_vec")))
    scored = (
        probes.join(cells, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("query_vec"), F.col("cand_vec")), 6).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", F.col("rank").cast("int").alias("rank"))
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's
    hyperplane bucket.  Same output shape as brute_force_topk (a query with
    an under-filled bucket returns fewer than k rows — recall/latency
    trade, tunable via `planes`)."""
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
        hyperplane_bucket(F.col(vec_col), planes, portable).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
        hyperplane_bucket(F.col(vec_col), planes, portable).alias("bucket"),
    )
    scored = (
        q.join(cand, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("query_vec"), F.col("cand_vec")), 6).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", F.col("rank").cast("int").alias("rank"))
    )


def cluster_assignments(
    embeddings: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
) -> DataFrame:
    """Corpus topic clustering: deterministic-hash-seeded k-means (the
    ivf_index picker + kmeans_refine Lloyd loop) and one final
    nearest-centroid assignment — columns (vec_id, cid, csim).  The
    pre-training-mix use case: cluster documents by embedding, then
    balance/sample per topic (pair with sampling.temperature_mix on the
    cid column).  Scale shape is IVF's: broadcast ≤n_clusters centroids,
    partition-local scoring, one top-1 window per pass — the corpus
    never self-joins.  `portable=True` seeds by md5 rank and pins
    refined means at 9 decimals so a DuckDB oracle reproduces the exact
    assignment (see kmeans_refine)."""
    idx = ivf_index(
        embeddings, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col,
        portable=portable, refine_iters=iters,
    )
    return assign_to_index(
        embeddings, idx["centroids"], id_col=id_col, vec_col=vec_col
    )


def assign_to_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment of a batch against an EXISTING
    centroid table — the incremental half of topic clustering: a
    continuously-fed corpus assigns each NEW ingest batch in O(batch)
    (broadcast ≤n_clusters centroids, partition-local scoring, one top-1
    window over the batch alone) while every already-assigned document's
    (vec_id, cid, csim) row stays byte-stable, because nothing is
    recomputed.  Pair with a persisted `ivf_index` in the versioned
    store (publish centroids once, `merge_into` the per-batch
    assignments — the llm/incremental.py MinHash-index ingest pattern)
    and recenter periodically by rebuilding the index in a maintenance
    pass when drift warrants.  Columns: (vec_id, cid, csim), identical
    to cluster_assignments — which is exactly this function applied to
    the corpus that built the index."""
    scored = (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .crossJoin(F.broadcast(centroids))
        .select(
            "vec_id", "cid",
            F.round(cosine(F.col("__v"), F.col("cvec")), 6).alias("csim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def recenter_topics(
    spark,
    root: str,
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    centroids_table: str = "topic_centroids",
    assignments_table: str = "topic_assignments",
    min_mean_csim: float | None = None,
) -> dict:
    """The PERIODIC half of incremental topic maintenance: rebuild the
    centroid index over the CURRENT corpus and republish centroids +
    full assignments in one atomic store commit — run from a nightly
    maintenance job the way maintain_store runs compaction, after enough
    assign_to_index ingests have drifted the mixture away from the
    centroids that batch 1 seeded.

    `min_mean_csim` gates the O(corpus) rebuild on MEASURED drift (the
    recluster() pattern: evaluate cheap, rewrite only when degraded):
    the stored assignments' mean cosine-to-centroid is one small
    aggregation over the assignments table — no corpus scan — and the
    rebuild runs only when it has fallen below the threshold.  The
    measurement itself is VERSION-GATED: the measured (version, mean)
    pair is recorded in the store's sync-state file under
    ``topics-measure:<assignments_table>``, and a later pass that finds
    the store version unchanged reuses the recorded mean without
    running ANY Spark job — an idle nightly maintain_store pass over a
    quiet store is metadata-only for topics, matching the rest of
    maintain_store's evaluate-cheap discipline (a store-version match
    is sound because every table commit bumps the store version, so an
    unchanged version implies byte-identical assignments).

    The republish is CAS-guarded on the store version observed at the
    measure step: the rebuild REPLACES the assignments table, so a
    concurrent assign_to_index ingest committing mid-rebuild would
    otherwise be silently lost — instead the recenter aborts with
    ConcurrentPublishError (the next maintenance pass retries; the
    ingest, the latency-sensitive half of the loop, always wins).
    Returns {"recentered": bool, "mean_csim": float | None,
    "measured": bool — False when the version gate reused a recorded
    probe, ["version"]}."""
    from pyspark.sql import functions as _F

    from dataintegration_ecomprovider_spark.plans import publish

    observed = publish.current_manifest(root)["version"]
    mean = None
    measured = False
    if min_mean_csim is not None:
        probe_key = f"topics-measure:{assignments_table}"
        rec = publish._sync_state(root).get(probe_key)
        if isinstance(rec, dict) and rec.get("version") == observed:
            # store version unchanged since the last measured pass →
            # the assignments are byte-identical; reuse the recorded
            # mean, zero Spark jobs (the idle-pass fast path)
            mean = rec.get("mean")
        else:
            try:
                cur = publish.read_table(spark, root, assignments_table)
            except KeyError:
                cur = None  # no index yet — the first pass bootstraps it
            if cur is not None:
                mean = cur.agg(_F.avg("csim")).collect()[0][0]
                mean = float(mean) if mean is not None else None
            measured = True
            publish._set_sync_state(
                root, probe_key, {"version": observed, "mean": mean}
            )
        if mean is not None and float(mean) >= min_mean_csim:
            return {"recentered": False, "mean_csim": float(mean),
                    "measured": measured, "measured_version": observed}
    idx = ivf_index(
        corpus, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col,
        portable=portable, refine_iters=iters,
    )
    manifest = publish.publish_tables(
        spark,
        {
            centroids_table: idx["centroids"],
            assignments_table: assign_to_index(
                corpus, idx["centroids"], id_col=id_col, vec_col=vec_col
            ),
        },
        root,
        table_keys={assignments_table: ["vec_id"]},
        expected_version=observed,
    )
    return {
        "recentered": True,
        "mean_csim": float(mean) if mean is not None else None,
        "measured": measured,
        "version": manifest["version"],
    }


def maintain_topic_assignments(
    spark,
    root: str,
    src: str = "embeddings",
    dst: str = "topic_assignments",
    centroids_table: str = "topic_centroids",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Maintain `dst` as a CDC-DRIVEN VIEW of the embeddings table:
    assignments follow the source through inserts, updates AND deletes,
    so dedup/curation removing documents retracts their topic rows
    instead of leaving them stale (the gap a bare assign_to_index ingest
    loop has — it only ever adds).

    The maintenance rule is the per-row specialization of incremental
    view maintenance: assignment is a PURE per-row function of
    (vector, centroids), so a source change can only affect the rows
    whose keys changed —

    - insert/update → re-score JUST those rows against the persisted
      centroids (broadcast ≤K centroids, O(batch)),
    - delete → retract the assignment row,

    committed as ONE merge-on-read delta (merge_into_mor upserts +
    delete markers), so both the read side (CDC via read_changes —
    O(delta) across compactions thanks to rewrite provenance) and the
    write side are O(changed rows), never O(corpus).  First call seeds
    with a full assignment of the source at the watermarked version;
    the watermark lives in the store sync-state under
    ``topics-view:<dst>`` (the maintain_aggregate pattern,
    plans/materialize.py).  Centroid REBUILD stays recenter_topics's
    job — this function keeps assignments consistent with the source
    between recenters, against whatever centroids are currently
    persisted.  Declarable as ``materialize.declare_view(root,
    "topics", src=..., dst=...)`` so maintain_store refreshes it with
    the rest of the view DAG.

    The maintained state always equals
    ``assign_to_index(current source, current centroids)`` whenever the
    centroids predate the watermark — pinned against a full recompute
    (and a DuckDB oracle on the portable hash family) in
    tests/test_llm_incremental.py.  Reference analog: the incremental
    re-run model (/root/reference/src/EcomProvider.cs:25, 937-966) —
    derived state follows the feed without re-reading the world.

    Returns {"dst", "from_version", "to_version", "mode"} — mode is
    "seed" | "delta" | "empty" | "noop".  (Implemented on
    materialize.maintain_rowwise_view — assignment is the canonical
    per-row derivation, so the generic per-key IVM primitive carries
    the seed/watermark/CDC/MoR mechanics.)"""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    centroids = publish.read_table(spark, root, centroids_table)

    def _build(rows):
        return assign_to_index(rows, centroids, id_col=id_col, vec_col=vec_col)

    return materialize.maintain_rowwise_view(
        spark, root, src, dst, _build,
        dst_keys=["vec_id"], src_key=id_col, src_key_out="vec_id",
        stable_keys=True, state_key=f"topics-view:{dst}",
    )


def maintain_ivf_cells(
    spark,
    root: str,
    src: str = "embeddings",
    dst: str = "ivf_cells",
    centroids_table: str = "ivf_centroids",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: bool = False,
) -> dict:
    """Maintain the persisted IVF `cells` table (the ANN-serving corpus
    layout: (neighbor_id, cand_vec, cid), see ivf_index) as a
    CDC-DRIVEN VIEW of the embeddings table — so similarity search
    stops RETURNING documents curation already deleted, and re-embedded
    documents move to their new cell, without ever re-assigning the
    full corpus.

    Cell membership is a pure per-row function of (vector, persisted
    centroids): inserts/updates re-assign just the changed vectors
    (broadcast ≤K centroids, O(batch)); deletes retract their cell
    rows; each refresh is one merge-on-read commit (O(changed rows)
    read and write).  `quantized=True` maintains an
    ivf_index(quantized=True) layout — new cand_vecs are stored as
    8-bit codes.  Centroid REBUILD (re-picking cells wholesale) stays a
    maintenance-pass job, exactly like recenter_topics for the topics
    view; serve reads (ivf_topk_from_index) see every refresh
    atomically through the store.  Declarable as
    ``materialize.declare_view(root, "ivf", src=..., dst=...)``.
    Implemented on materialize.maintain_rowwise_view (stable single-key
    fast path — one cell row per vector, no view scan on refresh).

    Returns {"dst", "from_version", "to_version", "mode"} — mode is
    "seed" | "delta" | "empty" | "noop"."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    centroids = publish.read_table(spark, root, centroids_table)

    def _build(rows):
        cells = _assign_to_centroids(
            rows.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("cand_vec"),
            ),
            centroids, "neighbor_id", "cand_vec", keep=1,
        )
        if quantized:
            cells = cells.withColumn("cand_vec", quantize(F.col("cand_vec")))
        return cells

    return materialize.maintain_rowwise_view(
        spark, root, src, dst, _build,
        dst_keys=["neighbor_id"], src_key=id_col, src_key_out="neighbor_id",
        stable_keys=True, state_key=f"ivf-cells:{dst}",
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.3,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    refine_iters: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic deduplication"):
    cluster the embedding space, then inside each cluster drop every item
    whose cosine similarity to a LOWER-ID item of the same cluster meets
    `threshold` — the min-id item of each near-set survives.  The paper's
    greedy within-cluster sweep is order-dependent; this first-wins variant
    is the deterministic, engine-independent policy (the same convention as
    E13 first-wins dedup), so a DuckDB oracle reproduces it exactly
    (portable=True → md5-ranked centroid pick, see ivf_index).

    Scale shape — why this survives 100 TB where naive semantic dedup
    (all-pairs cosine) cannot: clustering via the IVF machinery is one
    broadcast-centroids assignment pass + one shuffle on the cell id; the
    quadratic pair comparison runs only WITHIN a cell, so total work is
    Σ|cell|² not |corpus|² — identical skew profile to the MinHash-LSH
    band buckets (llm/dedup.py).  `refine_iters` > 0 tightens clusters
    with Lloyd iterations (better dedup recall, same plan shape).

    Returns the KEPT rows of `embeddings` (all original columns).

    `n_centroids="auto"` sizes the clustering to the corpus (≈√N,
    floor 16, one count pass): per-cell size — and so the Σ|cell|² pair
    work — then grows as √N instead of linearly, the knob that keeps the
    10× scale-probe growth bounded (SCALE.md).  A fixed n_centroids at a
    10× corpus means 10× cells and up to 100× within-cell pairs."""
    if n_centroids == "auto":
        n_centroids = max(16, int(embeddings.count() ** 0.5))
    idx = ivf_index(
        embeddings, n_centroids=n_centroids, id_col=id_col, vec_col=vec_col,
        portable=portable, refine_iters=refine_iters,
    )
    cells = idx["cells"]  # (cid, neighbor_id, cand_vec)
    a = cells.select(
        "cid", F.col("neighbor_id").alias("id_a"), F.col("cand_vec").alias("va")
    )
    b = cells.select(
        "cid", F.col("neighbor_id").alias("id_b"), F.col("cand_vec").alias("vb")
    )
    dup_ids = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return embeddings.join(dup_ids, id_col, "left_anti")


def quantize(vec: Column) -> Column:
    """Deterministic scalar quantization of an embedding to 8-bit integer
    levels: q_i = floor(x_i * 127 / max|x|).  floor (toward -inf) on both
    engines — no rounding-mode divergence, so a DuckDB oracle reproduces
    the codes exactly.  Cosine over the quantized vectors needs NO scale
    bookkeeping (the per-vector scale cancels in dot/(|a||b|)).

    Why at 100 TB: a float64 corpus of embeddings is the dominant memory/
    shuffle term in every ANN probe; 8-bit codes cut candidate-side bytes
    ~8x (faiss's SQ8 trade) at a recall cost pinned in tests."""
    scale = F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(1e-30)
    )
    return F.transform(vec, lambda x: F.floor(x * F.lit(127.0) / scale))


def brute_force_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """brute_force_topk over 8-bit-quantized vectors: same plan shape
    (broadcast query side, partition-local scoring, per-query rank), the
    candidate side carrying int codes instead of doubles.  Output columns
    match brute_force_topk; similarities are the quantized approximation."""
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        quantize(F.col(vec_col).cast("array<double>")).alias("cand_q"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize(F.col(vec_col).cast("array<double>")).alias("query_q"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("query_q"), F.col("cand_q")), 6).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "similarity",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- product quantization (faiss PQ role: m sub-codebooks, ADC scan) -------

def _unit(a: Column) -> Column:
    """L2-normalized copy of `a` — PQ quantizes UNIT vectors so its
    squared-L2 ordering equals the cosine ordering the exact engines
    rank by (||x-y||^2 = 2 - 2cos for unit vectors)."""
    return F.transform(a, lambda x: x / _norm(a))


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 between two equal-length arrays — sequential fold, so
    the DuckDB oracle's list_sum over the same elementwise squares
    reproduces it."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def pq_index(
    embeddings: DataFrame,
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    normalize: bool = True,
) -> dict[str, DataFrame]:
    """Product-quantization index (faiss PQ): the vector splits into `m`
    contiguous subvectors; each subspace gets a `codebook_size`-entry
    codebook (the hash-rank-sampled vectors' subvectors — the same
    deterministic no-count picker as ivf_index; k-means would drop in
    without changing the encode plan); every vector encodes as m small
    codes — ``m·log2(k)`` bits instead of ``d × 8`` bytes, an ~85x
    candidate-bytes shrink at (m=4, k=16, d=64 float64) versus SQ8's 8x.

    Returns {"codebook": (j, c, cv), "codes": (id, codes array<int>)} —
    both publishable to the versioned store like the IVF tables.

    Scale shape: the codebook is O(m·k) rows (broadcast everywhere); the
    encode pass expands each vector to m·k scored rows PARTITION-LOCALLY
    against the broadcast codebook and reduces with a map-side
    min(struct(dist, c)) — one shuffle on the id for the final
    per-vector code assembly, no corpus self-join anywhere."""
    spark = embeddings.sparkSession
    if portable:
        from dataintegration_ecomprovider_spark.llm.portable import md5_int60

        rank_hash = md5_int60(F.col(id_col).cast("string"))
    else:
        rank_hash = F.xxhash64(F.col(id_col))
    vcol = F.col(vec_col).cast("array<double>")
    sample = (
        embeddings.select(
            F.col(id_col),
            (_unit(vcol) if normalize else vcol).alias("v"),
        )
        .orderBy(rank_hash.asc(), F.col(id_col).asc())
        .limit(codebook_size)
        .collect()  # bounded: codebook_size rows — same contract as the
    )                # pivot-value discovery's driver-side collect
    if not sample:
        raise ValueError("pq_index needs a non-empty embeddings table")
    # the dimension comes off the sampled rows: a separate .first()
    # probe would cost one more full-plan driver round-trip per build
    dim = len(sample[0]["v"])
    if dim % m != 0:
        raise ValueError(f"m={m} must divide the embedding dim {dim}")
    sub = dim // m
    codebook_rows = [
        (j, c, list(row["v"][j * sub:(j + 1) * sub]))
        for c, row in enumerate(sample)
        for j in range(m)
    ]
    # repartition(1): O(m·k) bounded rows — createDataFrame otherwise
    # spreads them over defaultParallelism partitions, and publishing the
    # codebook then writes ~32 near-empty files per commit.  (repartition,
    # not coalesce: coalesce(1) over a parallelized local relation stalls
    # ~4 s per job on this Spark build; the 64-row shuffle is free.)
    codebook = spark.createDataFrame(
        codebook_rows, "j int, c int, cv array<double>"
    ).repartition(1)
    codes = _pq_encode(
        embeddings, codebook, sub, id_col, vec_col, normalize=normalize
    )
    return {"codebook": codebook, "codes": codes, "m": m, "sub": sub,
            "k": codebook_size}


def _pq_encode(
    rows: DataFrame, codebook: DataFrame, sub: int,
    id_col: str, vec_col: str, normalize: bool = True,
) -> DataFrame:
    """(id, codes): nearest codebook entry per subspace for each vector —
    partition-local against the broadcast codebook, one shuffle on the
    id for the final code assembly.  Pure per-row given the codebook,
    which is what lets maintain_pq_codes run it over CDC deltas only.
    `normalize=False` encodes the column AS IS — the residual-IVFPQ path
    passes already-centered residual vectors, which must not be
    re-normalized."""
    vcol = F.col(vec_col).cast("array<double>")
    cand = rows.select(
        F.col(id_col),
        (_unit(vcol) if normalize else vcol).alias("v"),
    )
    expanded = cand.crossJoin(F.broadcast(codebook)).select(
        id_col, "j", "c",
        F.round(
            _l2sq(F.slice(F.col("v"), F.col("j") * sub + 1, sub),
                  F.col("cv")),
            6,
        ).alias("d"),
    )
    # argmin per (vector, subspace): min over struct orders by distance
    # then code — rounding above makes near-ties deterministic ties
    best = expanded.groupBy(id_col, "j").agg(
        F.min(F.struct("d", "c")).getField("c").alias("code")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def publish_pq_codebook(
    spark,
    root: str,
    src: str = "embeddings",
    dst: str = "pq_codebook",
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
) -> dict:
    """Sample and PERSIST the PQ codebook (j, c, cv) from the current
    `src` table — the fixed half of the index (codes follow the corpus
    via maintain_pq_codes; re-sampling the codebook wholesale is a
    maintenance decision, exactly like recenter_topics /
    maintain_store's recluster gating)."""
    from dataintegration_ecomprovider_spark.plans import publish

    emb = publish.read_table(spark, root, src)
    # pq_index's "codes" frame stays lazy and unexecuted here — only the
    # bounded codebook sample materializes
    idx = pq_index(
        emb, m=m, codebook_size=codebook_size,
        id_col=id_col, vec_col=vec_col, portable=portable,
    )
    return publish.publish_tables(
        spark, {dst: idx["codebook"]}, root,
        table_keys={dst: ["j", "c"]},
    )


def maintain_pq_codes(
    spark,
    root: str,
    src: str = "embeddings",
    dst: str = "pq_codes",
    codebook_table: str = "pq_codebook",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Maintain the persisted PQ code table (id, codes) as a CDC-DRIVEN
    VIEW of the embeddings table — ANN-by-codes stops returning vectors
    curation deleted, and re-embedded vectors re-encode, without ever
    re-encoding the full corpus.

    Code assignment is a pure per-row function of (vector, persisted
    codebook): inserts/updates re-encode just the changed vectors
    (broadcast m×k codebook, O(batch)); deletes retract their code rows;
    each refresh is one merge-on-read commit.  Implemented on
    materialize.maintain_rowwise_view (stable single-key fast path — one
    code row per vector, no view scan on refresh); the first call seeds
    the table.  Declarable into the store for maintain_store's pass.

    Returns {"dst", "from_version", "to_version", "mode"}."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    codebook = publish.read_table(spark, root, codebook_table)
    sub = len(codebook.select("cv").first()["cv"])

    def _build(rows):
        return _pq_encode(rows, codebook, sub, id_col, vec_col)

    return materialize.maintain_rowwise_view(
        spark, root, src, dst, _build,
        dst_keys=[id_col], src_key=id_col, src_key_out=id_col,
        stable_keys=True, state_key=f"pq-codes:{dst}",
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    rerank: int | None = None,
    codebook: DataFrame | None = None,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): each query
    precomputes an m×codebook_size table of exact query-subvector →
    codebook-entry distances (O(m·k) work, broadcast), then every
    candidate costs m TABLE LOOKUPS — no per-candidate float vector math
    at all, the read side touching only the ~85x-smaller code table.
    Vectors are unit-normalized before quantization, so the squared-L2
    code distance orders like cosine (||x−y||² = 2−2·cos on the sphere).

    `rerank=None` returns the raw ADC ordering: (query_id, neighbor_id,
    distance, rank) ascending.  `rerank=R` is the PRODUCTION two-stage
    form (faiss's refine step): the ADC pass shortlists R candidates per
    query from codes alone, then ONLY those R rows fetch their float
    vectors for an exact cosine re-rank — output (query_id, neighbor_id,
    similarity, rank) like the exact engines, with the full-precision
    read bounded at R/|corpus| of the data.  Raw-ADC recall floors are
    data-dependent (structureless random vectors quantize badly — the
    fixture's measured raw recall is documented in test_llm); the
    reranked form is what a deployment serves.

    `codebook=` serves against a PRE-TRAINED codebook (Lloyd- or
    OPQ-trained) instead of the in-call hash-rank sample; `rotation=`
    applies the OPQ projection (opq_train) to the unit corpus AND query
    vectors before encode/ADC — one broadcast matmul each, nothing else
    changes (the exact re-rank uses the RAW vectors either way, cosine
    being rotation-invariant)."""
    if codebook is not None:
        cb = codebook.select(
            "j", "c", F.col("cv").cast("array<double>").alias("cv")
        )
        first = cb.agg(
            F.max(F.size("cv")).alias("s"),
            (F.max("j") + 1).alias("m"),
            (F.max("c") + 1).alias("k"),
        ).first()
        sub, m, kk = first["s"], int(first["m"]), int(first["k"])
        corpus = embeddings.select(
            F.col(id_col),
            _unit(F.col(vec_col).cast("array<double>")).alias("__v"),
        )
        if rotation is not None:
            corpus = rotate_vectors(
                corpus, rotation, vec_col="__v", normalize=False
            )
        idx = {
            "codebook": cb,
            "codes": _pq_encode(
                corpus, cb, sub, id_col, "__v", normalize=False
            ),
            "sub": sub, "k": kk,
        }
    else:
        idx = pq_index(
            embeddings, m=m, codebook_size=codebook_size,
            id_col=id_col, vec_col=vec_col, portable=portable,
        )
        sub, kk = idx["sub"], idx["k"]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _unit(F.col(vec_col).cast("array<double>")).alias("qv"),
    )
    if rotation is not None:
        q = rotate_vectors(q, rotation, vec_col="qv", normalize=False)
    tab = q.crossJoin(F.broadcast(idx["codebook"])).select(
        "query_id", "j", "c",
        F.round(
            _l2sq(F.slice(F.col("qv"), F.col("j") * sub + 1, sub),
                  F.col("cv")),
            6,
        ).alias("w"),
    )
    # one flat lookup array per query, index = j * codebook_size + c
    tables = tab.groupBy("query_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "c", "w"))),
            lambda s: s["w"],
        ).alias("table")
    )
    scored = (
        idx["codes"]
        .withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(tables))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    F.lit(0.0),
                    lambda acc, j: acc + F.element_at(
                        F.col("table"),
                        j * kk + F.element_at(F.col("codes"), j + 1) + 1,
                    ),
                ),
                6,
            ).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "distance",
                    F.col("rank").cast("int").alias("rank"))
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
    )
    # re-rank against the RAW query vector (same arithmetic as the exact
    # engines and the oracle — cosine is scale-invariant mathematically,
    # but the normalized copy's floats are not bit-identical)
    qraw = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
    )
    refined = (
        shortlist.join(F.broadcast(qraw), "query_id")
        .join(cand, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("query_vec"), F.col("cand_vec")), 6)
            .alias("similarity"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity",
                F.col("rank").cast("int").alias("rank"))
    )


def rotate_vectors(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """x̂ = R·x per row — the OPQ projection (Ge et al. 2013), applied
    as a broadcast HOF matmul: R rides a ONE-ROW frame (d×d doubles, a
    bounded model parameter like the codebook) cross-joined broadcast,
    and each output component is one zip_with·aggregate dot product.
    This is the 'one extra broadcast matmul per encode' the OPQ serve
    path costs; everything downstream (Lloyd, encode, ADC) is unchanged
    because rotation preserves L2 geometry."""
    spark = df.sparkSession
    rmat = spark.createDataFrame(
        [([list(map(float, row)) for row in rotation],)],
        "__rot array<array<double>>",
    ).repartition(1)
    vcol = F.col(vec_col).cast("array<double>")
    src = _unit(vcol) if normalize else vcol
    return df.crossJoin(F.broadcast(rmat)).withColumn(
        out_col or vec_col,
        F.transform(
            F.col("__rot"),
            lambda row: F.aggregate(
                F.zip_with(row, src, lambda a, b: a * b),
                F.lit(0.0), lambda acc, x: acc + x,
            ),
        ),
    ).drop("__rot")


def opq_train(
    embeddings: DataFrame,
    m: int = 4,
    codebook_size: int = 16,
    opq_iters: int = 3,
    lloyd_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_means: int | None = 6,
    portable: bool = False,
) -> dict:
    """Optimized Product Quantization (Ge et al. 2013, non-parametric
    alternation): learn an orthogonal rotation R and a PQ codebook
    jointly so the m subspaces share the data's variance instead of
    inheriting whatever correlations the raw dimension order carries —
    the standard fix when raw-ADC code quality (not the re-rank) is the
    recall bottleneck.  Each iteration alternates:

    1. fix R — one distributed per-subspace Lloyd step over the ROTATED
       unit vectors (pq_refine_codebook, the existing trainer), then the
       distributed encode (_pq_encode);
    2. fix the codebook — solve the orthogonal Procrustes problem
       min_R Σ‖R·xᵢ − yᵢ‖² (yᵢ = the concatenated codebook entries of
       xᵢ's codes): accumulate M = Σ xᵢ·yᵢᵀ DISTRIBUTED (posexplode of
       x → d groups × d partial sums, map-side combined — never a
       driver pass over vectors), then R = V·Uᵀ from the d×d SVD of M
       (numpy, driver-side: d² doubles, a bounded model parameter).

    Returns {"rotation": d×d list, "codebook", "m", "sub", "k"} —
    codebook/codes live in ROTATED space; serve by passing rotation=
    + codebook= to pq_topk (queries rotate through the same R).  Not on
    the DuckDB-oracle surface (SVD has no portable SQL twin); graded by
    the recall study in scripts/scale_probe.py + pytest floors."""
    import numpy as np

    spark = embeddings.sparkSession
    dim = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"m={m} must divide the embedding dim {dim}")
    sub = dim // m
    from dataintegration_ecomprovider_spark import runtime

    base = runtime.track(
        embeddings.select(
            F.col(id_col),
            _unit(F.col(vec_col).cast("array<double>")).alias("x"),
        ).persist()
    )
    # seed codebook: the hash-rank sample picker pq_index documents
    # (identity rotation first pass, so sampling unrotated is exact)
    codebook = pq_index(
        base, m=m, codebook_size=codebook_size,
        id_col=id_col, vec_col="x", portable=portable,
    )["codebook"]
    r_np = np.eye(dim)
    for _ in range(max(1, opq_iters)):
        rot = rotate_vectors(
            base, r_np.tolist(), vec_col="x", out_col="xr", normalize=False
        )
        codebook = pq_refine_codebook(
            rot, codebook, sub, iters=max(1, lloyd_iters),
            id_col=id_col, vec_col="xr", round_means=round_means,
            normalize=False, m_count=m,
        )
        codes = _pq_encode(rot, codebook, sub, id_col, "xr", normalize=False)
        # yᵢ: concatenate the codebook entries of xᵢ's codes (rotated
        # space), via one broadcast join against the m·k codebook
        recon = (
            codes.select(
                F.col(id_col),
                F.posexplode("codes").alias("j", "c"),
            )
            .join(F.broadcast(codebook), ["j", "c"])
            .groupBy(id_col)
            .agg(
                F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("j", "cv"))),
                        lambda s: s["cv"],
                    )
                ).alias("y")
            )
        )
        # M[a][b] = Σ x[a]·y[b]: d groups × d partial sums (map-side
        # combined — the only driver materialization is the d×d result)
        pairs = base.join(recon, id_col).select(
            F.posexplode("x").alias("a", "xa"), "y"
        )
        mrows = pairs.groupBy("a").agg(
            *[
                F.sum(F.col("xa") * F.element_at(F.col("y"), b + 1))
                .alias(f"m{b}")
                for b in range(dim)
            ]
        ).collect()
        m_np = np.zeros((dim, dim))
        for r in mrows:
            m_np[r["a"]] = [r[f"m{b}"] for b in range(dim)]
        u, _s, vt = np.linalg.svd(m_np)
        r_np = vt.T @ u.T  # maximizes tr(R·M): the Procrustes optimum
    return {
        "rotation": r_np.tolist(), "codebook": codebook,
        "m": m, "sub": sub, "k": codebook_size,
    }


def pq_refine_codebook(
    embeddings: DataFrame,
    codebook: DataFrame,
    sub: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_means: int | None = None,
    normalize: bool = True,
    m_count: int | None = None,
) -> DataFrame:
    """Per-subspace Lloyd k-means refinement of a PQ codebook (faiss
    trains its sub-codebooks exactly this way): each iteration assigns
    every vector's j-th subvector to its nearest entry of subspace j's
    codebook (broadcast O(m·k) codebook, partition-local L2² scoring)
    and recomputes each (j, c) entry as the member subvectors' mean.
    Returns (j, c, cv) with pq_index's codebook schema, so the encode
    plan (`_pq_encode`) is untouched — the drop-in the hash-rank sample
    always documented.

    All m subspaces refine in ONE joint plan per iteration (the subspace
    id j is just a grouping column), so the iteration cost matches a
    single k-means pass: one broadcast join + argmin window + one
    (j, c, dim) mean — never m separate jobs.  Entries that lose all
    members drop out (standard Lloyd); the driver collects the bounded
    m·k×sub means between iterations, like kmeans_refine.

    Driver round-trips per call: ONE upfront
    collect of the bounded starting codebook plus one means collect per
    iteration — the empty-entry COALESCE bookkeeping lives driver-side
    across iterations instead of re-collecting `current` (whose first
    incarnation is a whole sampled-codebook plan) every pass.  Callers
    that know the subspace count pass `m_count` and skip its probe job.
    Multi-iteration refinements persist the subvector frame once (it is
    otherwise re-derived from the corpus scan per iteration).

    `round_means=N` pins the recomputed means for cross-engine oracle
    checks (the only data-dependent floats in the loop), same contract
    as kmeans_refine."""
    spark = embeddings.sparkSession
    if m_count is None:
        m_count = codebook.select(F.max("j")).first()[0] + 1
    vcol = F.col(vec_col).cast("array<double>")
    subvecs = (
        embeddings.select(
            F.col(id_col).alias("__vid"),
            (_unit(vcol) if normalize else vcol).alias("v"),
        )
        .select(
            "__vid",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(int(m_count) - 1)),
                    lambda j: F.struct(
                        j.cast("int").alias("j"),
                        F.slice(F.col("v"), j * sub + 1, sub).alias("sv"),
                    ),
                )
            ).alias("e"),
        )
        .select("__vid", F.col("e.j").alias("j"), F.col("e.sv").alias("sv"))
    )
    if iters > 1:
        # the subvector frame is re-derived from the corpus scan every
        # iteration otherwise — persist once, release with the caller's
        # scope (runtime.release_caches)
        from dataintegration_ecomprovider_spark import runtime

        subvecs = runtime.track(subvecs.persist())
    current = codebook.select("j", "c", F.col("cv").cast("array<double>").alias("cv"))
    # one upfront collect of the bounded starting codebook; the merge
    # bookkeeping below keeps `prev` current driver-side per iteration
    prev = {(r["j"], r["c"]): list(r["cv"]) for r in current.collect()}
    for _ in range(iters):
        scored = subvecs.join(F.broadcast(current), "j").select(
            "__vid", "j", "c", "sv",
            F.round(_l2sq(F.col("sv"), F.col("cv")), 6).alias("d"),
        )
        w = Window.partitionBy("__vid", "j").orderBy(
            F.col("d").asc(), F.col("c").asc()
        )
        assigned = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("j", "c", F.posexplode("sv").alias("dim", "x"))
        )
        mean_col = (
            F.round(F.avg("x"), round_means)
            if round_means is not None
            else F.avg("x")
        )
        means = (
            assigned.groupBy("j", "c", "dim")
            .agg(mean_col.alias("m"))
            .groupBy("j", "c")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
        )
        rows = means.collect()  # bounded: ≤ m·k rows of sub doubles
        # an entry that lost every member KEEPS its previous value
        # (faiss's empty-cluster handling): ADC lookup tables index a
        # FLAT j×k array, so a dropped (j, c) would misalign every code
        # past it — and the oracle twin mirrors this COALESCE exactly
        updated = {(r.j, r.c): list(r.cv) for r in rows}
        merged = [
            (j, c, updated.get((j, c), cv))
            for (j, c), cv in sorted(prev.items())
        ]
        prev = {(j, c): cv for j, c, cv in merged}
        current = spark.createDataFrame(
            merged, "j int, c int, cv array<double>",
        ).repartition(1)
    return current


def ivfpq_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    m: int = 4,
    codebook_size: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
    refine_iters: int = 0,
    pq_iters: int = 0,
    residual: bool = False,
) -> dict:
    """Composed IVF+PQ index (faiss IVFPQ, by_residual=false): the
    coarse quantizer (IVF centroids) bounds WHICH vectors a query
    touches; the product quantizer bounds HOW MANY BYTES each touched
    vector costs.  Returns {"centroids": (cid, cvec), "codebook":
    (j, c, cv), "codes": (id, cid, codes)} — the codes table carries its
    cell id so the serve path (ivfpq_topk) ADC-scans ONLY probed cells,
    turning the flat-PQ O(corpus codes) scan into O(probed cells),
    which is what a 100 TB serve path needs.

    `residual=False` (default) encodes the unit-normalized vector
    itself — the code table stays IDENTICAL to flat PQ (same
    `_pq_encode`, same CDC maintenance) and one code table serves both
    paths.  `residual=True` is faiss's by_residual default: codes
    encode unit(v) − unit(centroid[cell]), whose norms are much smaller
    than the vectors' own, so the same m·k codebook budget spends its
    resolution on the part of the vector the coarse quantizer did NOT
    already explain — at the cost of per-(query, probed-cell) ADC
    tables at serve time (the ADC identity ||q−x||² = ||(q−c)−(x−c)||²
    holds exactly within a cell, so the ordering math is unchanged).
    Codebook (sample AND Lloyd training) is built over the residuals in
    residual mode.

    Which to pick (both fixtures measured, SCALE.md ANN tables): on
    CLUSTERED embeddings — the organic case, probed on a
    mixture-of-Gaussians fixture — residual wins on raw-ADC (0.085 vs
    0.060) AND re-ranked (0.980 vs 0.955) recall, exactly faiss's
    rationale; on structureless noise it loses (raw ADC 0.035 vs
    0.155) because the residual has no concentration to exploit.  The
    API default stays False for the architectural reason above (one
    code table shared with flat PQ, no per-cell ADC tables) and
    robustness when the space is unstructured; prefer residual=True for
    organic embedding corpora.

    `pq_iters` > 0 trains the sub-codebooks with per-subspace Lloyd
    iterations (pq_refine_codebook) instead of the raw hash-rank sample;
    `refine_iters` Lloyd-refines the IVF centroids (kmeans_refine).
    Once centroids and codebook are persisted, maintain_ivfpq_codes keeps
    the code table current from CDC."""
    ivf = ivf_index(
        embeddings, n_centroids=n_centroids, id_col=id_col,
        vec_col=vec_col, portable=portable, refine_iters=refine_iters,
    )
    if residual:
        resid = _ivfpq_residuals(
            embeddings, ivf["centroids"], id_col, vec_col
        )
        pq_src, pq_vec, norm = resid, "__resid", False
    else:
        pq_src, pq_vec, norm = embeddings, vec_col, True
    idx = pq_index(
        pq_src, m=m, codebook_size=codebook_size,
        id_col=id_col, vec_col=pq_vec, portable=portable,
        normalize=norm,
    )
    codebook = idx["codebook"]
    if pq_iters > 0:
        codebook = pq_refine_codebook(
            pq_src, codebook, idx["sub"], iters=pq_iters,
            id_col=id_col, vec_col=pq_vec,
            round_means=9 if portable else None, normalize=norm,
            m_count=m,  # known here — skips the probe job
        )
    codes = _ivfpq_encode(
        embeddings, ivf["centroids"], codebook, idx["sub"], id_col,
        vec_col, residual=residual,
    )
    return {
        "centroids": ivf["centroids"], "codebook": codebook,
        "codes": codes, "m": m, "sub": idx["sub"], "k": codebook_size,
        "residual": residual,
    }


def _ivfpq_residuals(
    rows: DataFrame, centroids: DataFrame, id_col: str, vec_col: str,
) -> DataFrame:
    """(id, cid, __resid): each vector's nearest cell and its residual
    unit(v) − unit(centroid) — the quantity residual-IVFPQ codes encode.
    Broadcast centroids, partition-local; pure per-row."""
    assigned = _assign_to_centroids(
        rows.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ),
        centroids, id_col, "__v", keep=1,
    )
    return assigned.join(
        F.broadcast(centroids.select("cid", "cvec")), "cid"
    ).select(
        F.col(id_col), "cid",
        F.zip_with(
            _unit(F.col("__v")), _unit(F.col("cvec").cast("array<double>")),
            lambda x, c: x - c,
        ).alias("__resid"),
    )


def _ivfpq_encode(
    rows: DataFrame, centroids: DataFrame, codebook: DataFrame, sub: int,
    id_col: str, vec_col: str, residual: bool = False,
) -> DataFrame:
    """(id, cid, codes): nearest IVF cell + PQ codes per vector — both
    halves pure per-row functions of broadcast tables (≤K centroids,
    m·k codebook entries), which is what lets maintain_ivfpq_codes run
    this over CDC deltas only.  One shuffle on the id to zip the two
    assignments.  `residual=True` encodes unit(v) − unit(centroid[cell])
    instead of unit(v) (see ivfpq_index)."""
    if residual:
        resid = _ivfpq_residuals(rows, centroids, id_col, vec_col)
        codes = _pq_encode(
            resid, codebook, sub, id_col, "__resid", normalize=False
        )
        return codes.join(resid.select(id_col, "cid"), id_col).select(
            id_col, "cid", "codes"
        )
    cells = _assign_to_centroids(
        rows.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")),
        centroids, id_col, "__v", keep=1,
    ).select(id_col, "cid")
    codes = _pq_encode(rows, codebook, sub, id_col, vec_col)
    return codes.join(cells, id_col).select(id_col, "cid", "codes")


def ivfpq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    embeddings: DataFrame | None = None,
    residual: bool = False,
    index: dict | None = None,
) -> DataFrame:
    """Serve approximate top-k from an ivfpq_index layout: queries assign
    to their `n_probe` nearest cells (broadcast centroids), build their
    m×k ADC lookup table (broadcast codebook), then score ONLY the
    probed cells' codes — the join on cid is the sole contact with the
    corpus-scale table, so a store-persisted codes table bucketed on cid
    serves probes with no corpus-side Exchange and per-query work
    O(Σ probed |cell|), not O(corpus).

    `index` is the metadata dict returned by ivfpq_index ({"m", "k",
    "sub", optionally "residual"}): passing it makes the serve path
    ZERO-JOB before Spark submits the probe — without it the geometry
    is re-derived from the codebook via three bounded driver round-trips
    (two 1-row aggregates + one first()), which is correct but costs
    three Spark jobs per call.

    `rerank=R` (requires `embeddings`) is the production two-stage form:
    the ADC pass shortlists R candidates per query from codes alone,
    then only those R fetch float vectors for the exact cosine top-k —
    output (query_id, neighbor_id, similarity, rank) like the exact
    engines.  `rerank=None` returns the raw ADC ordering (query_id,
    neighbor_id, distance, rank)."""
    if index is not None:
        kk = int(index["k"])
        m_count = int(index["m"])
        sub = int(index["sub"])
        residual = bool(index.get("residual", residual))
    else:
        kk = codebook.select(F.max("c")).first()[0] + 1
        m_count = codebook.select(F.max("j")).first()[0] + 1
        sub = len(codebook.select("cv").first()["cv"])
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _unit(F.col(vec_col).cast("array<double>")).alias("qv"),
    )
    probes = _assign_to_centroids(
        q, centroids.select("cid", "cvec"), "query_id", "qv", keep=n_probe
    ).select("query_id", "qv", "cid")
    if residual:
        # per-(query, probed cell) ADC tables over the RESIDUAL
        # unit(q) − unit(centroid): |queries|·n_probe·m·k rows — still a
        # broadcast-sized frame; within a probed cell the residual ADC
        # orders exactly like the vector-space ADC
        # (||q−x||² = ||(q−c)−(x−c)||²), with the codebook's resolution
        # spent on the unexplained part
        qres = probes.join(
            F.broadcast(centroids.select("cid", "cvec")), "cid"
        ).select(
            "query_id", "cid",
            F.zip_with(
                F.col("qv"), _unit(F.col("cvec").cast("array<double>")),
                lambda x, c: x - c,
            ).alias("qv"),
        )
        tab = qres.crossJoin(F.broadcast(codebook)).select(
            "query_id", "cid", "j", "c",
            F.round(
                _l2sq(F.slice(F.col("qv"), F.col("j") * sub + 1, sub),
                      F.col("cv")),
                6,
            ).alias("w"),
        )
        probe_tables = tab.groupBy("query_id", "cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "c", "w"))),
                lambda s: s["w"],
            ).alias("table")
        )
    else:
        tab = q.crossJoin(F.broadcast(codebook)).select(
            "query_id", "j", "c",
            F.round(
                _l2sq(F.slice(F.col("qv"), F.col("j") * sub + 1, sub),
                      F.col("cv")),
                6,
            ).alias("w"),
        )
        tables = tab.groupBy("query_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "c", "w"))),
                lambda s: s["w"],
            ).alias("table")
        )
        # (query_id, cid, table): one row per probe — small
        # (|queries|·n_probe), broadcast against the cid-bucketed codes
        probe_tables = probes.select("query_id", "cid").join(
            tables, "query_id"
        )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(probe_tables), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.aggregate(
                    F.sequence(F.lit(0), F.lit(int(m_count) - 1)),
                    F.lit(0.0),
                    lambda acc, j: acc + F.element_at(
                        F.col("table"),
                        j * int(kk) + F.element_at(F.col("codes"), j + 1) + 1,
                    ),
                ),
                6,
            ).alias("distance"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("neighbor_id").asc()
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "distance",
                    F.col("rank").cast("int").alias("rank"))
        )
    if embeddings is None:
        raise ValueError("rerank requires the raw embeddings table")
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cand = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cand_vec"),
    )
    qraw = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("query_vec"),
    )
    refined = (
        shortlist.join(F.broadcast(qraw), "query_id")
        .join(cand, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(cosine(F.col("query_vec"), F.col("cand_vec")), 6)
            .alias("similarity"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("similarity").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity",
                F.col("rank").cast("int").alias("rank"))
    )


def maintain_ivfpq_codes(
    spark,
    root: str,
    src: str = "embeddings",
    dst: str = "ivfpq_codes",
    centroids_table: str = "ivfpq_centroids",
    codebook_table: str = "ivfpq_codebook",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> dict:
    """Maintain the persisted IVFPQ code table (id, cid, codes) as a
    CDC-driven view of the embeddings table — the ivfpq analog of
    maintain_pq_codes + maintain_ivf_cells in ONE table: inserts/updates
    re-assign AND re-encode just the changed vectors (broadcast
    centroids + codebook, O(batch)); deletes retract their rows; each
    refresh is one merge-on-read commit.  The first call seeds the
    table."""
    from dataintegration_ecomprovider_spark.plans import materialize, publish

    centroids = publish.read_table(spark, root, centroids_table)
    codebook = publish.read_table(spark, root, codebook_table)
    sub = len(codebook.select("cv").first()["cv"])

    def _build(rows):
        return _ivfpq_encode(
            rows, centroids, codebook, sub, id_col, vec_col,
            residual=residual,
        )

    return materialize.maintain_rowwise_view(
        spark, root, src, dst, _build,
        dst_keys=[id_col], src_key=id_col, src_key_out=id_col,
        stable_keys=True, state_key=f"ivfpq-codes:{dst}",
    )
