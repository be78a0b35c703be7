"""Incremental corpus deduplication — dedup an ingest batch against a
PERSISTENT MinHash signature index instead of recomputing corpus LSH.

The batch operators in llm/dedup.py answer "which documents in THIS corpus
are near-duplicates of each other".  A training-data pipeline at 100 TB
asks a different question on every ingest: "which of these NEW documents
duplicate something we already kept?"  Recomputing signatures over the
full corpus per batch is O(corpus) — prohibitive.  This module makes
ingest O(batch):

- the corpus keeps two small side tables, its signature table
  ``(id, sig)`` and its band table ``(id, band, bucket)`` — built once per
  document, ever (minhash_signatures + dedup.band_buckets);
- a new batch computes ITS signatures/bands (O(batch)), joins its band
  rows against the index band rows on (band, bucket) for candidates, and
  scores candidates with the classic MinHash estimate of Jaccard
  similarity (fraction of agreeing signature components) — no document
  text is ever re-read, not the corpus's and not even the batch's;
- surviving novel documents append their signature/band rows to the index
  (publish via plans/publish for atomic versioned updates — see
  tests/test_llm_incremental.py for the store round-trip).

Scale shape: the only corpus-scale work is the (band, bucket) join, and
the index band table can be PUBLISHED BUCKETED on (band, bucket)
(publish_tables(bucket_keys=...)), so each ingest shuffles just the batch
side.  Candidate scoring joins signatures for candidate ids only
(semi-join-scoped, like dedup.jaccard_pairs).

No reference analog (the reference dedups per-key in-memory,
src/EcomDestinationWriter.cs:1269-1278); this extends the LLM-pipeline
north star (BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.llm import dedup


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """The MinHash estimator: fraction of signature components on which
    two documents agree is an unbiased estimate of their shingle-set
    Jaccard similarity.  Pure codegen (zip_with + aggregate), rounded to 6
    for engine-independent comparison."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return F.round(agree / F.size(sig_a), 6)


def match_against_index(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """(new_id, corpus_id, est_jaccard) for every batch document whose
    estimated similarity to an indexed document reaches `threshold`.

    `new_sigs` is the batch signature table (minhash_signatures output:
    (id, sig)); `index_sigs`/`index_bands` are the corpus side tables.
    Candidates come from the (band, bucket) join — only signature
    agreement is scored, never text."""
    new_bands = dedup.band_buckets(new_sigs, num_hashes, bands, portable)
    cand = (
        new_bands.withColumnRenamed("id", "new_id")
        .join(
            index_bands.select(
                F.col("id").alias("corpus_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    a = new_sigs.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_a"))
    b = index_sigs.select(F.col("id").alias("corpus_id"), F.col("sig").alias("sig_b"))
    return (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            estimated_jaccard(F.col("sig_a"), F.col("sig_b")).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def maintain_dedup_index(
    spark,
    root: str,
    src: str = "documents",
    dst: str = "minhash_sigs",
    bands_table: str = "minhash_bands",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    portable: bool = False,
) -> dict:
    """Maintain the MinHash signature index (`dst` = (id, sig),
    `bands_table` = (id, band, bucket)) as a CDC-DRIVEN VIEW of the
    corpus table `src` — the retraction half the grow-only ingest loop
    (dedup_batch_against_index) lacks: once curation DELETES or EDITS a
    kept document, its stale signature keeps matching future batches,
    silently dropping novel documents as "duplicates of" text that is
    no longer in the corpus.

    Signatures are a pure per-document function of the text, so the IVM
    rule is per-key: inserts/updates re-shingle JUST the changed
    documents (O(batch)); deletes — and updates whose new text yields
    no shingles — retract the (id) signature row and all `bands` (id,
    band) rows (the band-key set per id is fixed, so upserts replace in
    place and delete markers enumerate range(bands) without reading the
    index).  Each refresh commits both side tables in ONE merge-on-read
    version (merge_many_mor): O(changed rows) read (CDC, bridged across
    compactions) and write, and no reader ever sees new signatures
    beside stale bands.  The documents feed is the shared span feed
    (materialize.span_change_feed), so the postings and doc-length
    views of the same span pay no second diff.

    First call seeds both tables from the corpus at the watermarked
    version; the watermark lives in the store sync-state under
    ``dedup-index:<dst>``.  The maintained index always equals a
    from-scratch minhash_signatures/band_buckets over the current
    corpus (pinned against a full rebuild and a DuckDB oracle on the
    portable family — `llm_dedup_index_cdc_portable`).  Same maintainer
    family as similarity.maintain_topic_assignments; reference analog:
    the incremental re-run model
    (/root/reference/src/EcomProvider.cs:25, 937-966).

    Returns {"dst", "from_version", "to_version", "mode"} — mode is
    "seed" | "delta" | "empty" | "noop"."""
    from dataintegration_ecomprovider_spark.plans import publish

    state_key = f"dedup-index:{dst}"
    manifest = publish.current_manifest(root)
    src_version = manifest["version"]
    last = publish._sync_state(root).get(state_key)

    def _build(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        sigs = dedup.minhash_signatures(
            docs, id_col, text_col, num_hashes, shingle_n, portable
        )
        return sigs, dedup.band_buckets(sigs, num_hashes, bands, portable)

    def _seed() -> str:
        # corpus-sized input: spread here, NOT inside _build — the delta
        # branch feeds _build batch-sized CDC frames, where a spread
        # would add an Exchange for nothing
        from dataintegration_ecomprovider_spark import runtime

        sigs, band_rows = _build(
            runtime.spread_scan(
                publish.read_table_at(spark, root, src, src_version)
            )
        )
        publish.publish_tables(
            spark, {dst: sigs, bands_table: band_rows}, root,
            table_keys={dst: ["id"], bands_table: ["id", "band"]},
        )
        return "seed"

    if last is None or dst not in manifest["tables"]:
        mode = _seed()
    elif last == src_version:
        return {"dst": dst, "from_version": last, "to_version": src_version,
                "mode": "noop"}
    else:
        from dataintegration_ecomprovider_spark.plans import materialize

        try:
            # the documents feed comes from the shared span cache: the
            # postings and doc-length views of the same span (refreshing
            # beside this one) reuse one diff + count
            changes, n_changed = materialize.span_change_feed(
                spark, root, src, last, src_version, [id_col],
            )
        except KeyError:
            # consumed-from version vacuumed — delta unrecoverable
            mode = _seed()
        else:
            from dataintegration_ecomprovider_spark import runtime

            with runtime.job_scope() as scope:
                try:
                    if n_changed == 0:
                        mode = "empty"
                    else:
                        import math

                        # one delta file per ~500k changed docs, not one
                        # near-empty file per shuffle partition (MoR reads
                        # replay every delta file)
                        nparts = max(1, math.ceil(n_changed / 500_000))
                        new_sigs, _ = _build(
                            changes.filter(F.col("change_type") != "delete")
                        )
                        new_sigs = runtime.track(
                            new_sigs.coalesce(nparts).persist()
                        )
                        # bands from the persisted sigs: the two deltas
                        # stage concurrently and share one shingling pass
                        new_bands = dedup.band_buckets(
                            new_sigs, num_hashes, bands, portable
                        )
                        # retract deletes AND changed docs whose new text
                        # shingles to nothing (they have no sig row, so an
                        # upsert alone would leave the old one standing)
                        del_ids = (
                            changes.select(F.col(id_col).alias("id"))
                            .distinct()
                            .join(new_sigs.select("id"), "id", "left_anti")
                        )
                        del_band_rows = del_ids.select(
                            "id",
                            F.explode(
                                F.sequence(F.lit(0), F.lit(bands - 1))
                            ).alias("band"),
                        )
                        publish.merge_many_mor(spark, root, {
                            dst: {"staging": new_sigs, "keys": ["id"],
                                  "deletes": del_ids},
                            bands_table: {"staging": new_bands,
                                          "keys": ["id", "band"],
                                          "deletes": del_band_rows},
                        })
                        mode = "delta"
                finally:
                    scope.release(spark)
    publish._set_sync_state(root, state_key, src_version)
    return {"dst": dst, "from_version": last, "to_version": src_version,
            "mode": mode}


def dedup_batch_against_index(
    batch_docs: DataFrame,
    index_sigs: DataFrame | None,
    index_bands: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> dict[str, DataFrame]:
    """One ingest step.  Returns
    ``{"kept": batch docs novel vs the index, "matches": (new_id,
    corpus_id, est_jaccard), "sigs": kept (id, sig), "bands": kept
    (id, band, bucket)}`` — append `sigs`/`bands` to the index tables
    (e.g. publish.merge_into with insert_new only) to complete the step.

    Pass None index tables for the FIRST batch: everything is kept and
    the returned side tables seed the index.  Within-batch near-dups are
    intentionally out of scope here — run the batch operators
    (dedup.minhash_candidates / cluster.dedup_clusters) on the batch
    first if ingest batches can self-duplicate."""
    sigs = dedup.minhash_signatures(
        batch_docs, id_col, text_col, num_hashes, shingle_n, portable
    )
    if index_sigs is None or index_bands is None:
        kept_sigs = sigs
        matches = None
    else:
        matches = match_against_index(
            sigs, index_sigs, index_bands, num_hashes, bands, threshold, portable
        )
        dup_ids = matches.select(F.col("new_id").alias("id")).dropDuplicates(["id"])
        kept_sigs = sigs.join(dup_ids, "id", "left_anti")
    kept = batch_docs.join(
        kept_sigs.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )
    return {
        "kept": kept,
        "matches": matches,
        "sigs": kept_sigs,
        "bands": dedup.band_buckets(kept_sigs, num_hashes, bands, portable),
    }
