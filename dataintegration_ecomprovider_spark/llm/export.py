"""Training-data export: deterministic sharded JSONL with a manifest.

The last step of a curation pipeline hands the corpus to a trainer as a
directory of similar-sized shards (data loaders stream shards
independently; reproducibility requires the same doc to land in the same
shard on every export).  Net-new relative to the reference, whose export
surface is the ODBC/CSV reader (src/EcomSourceReader.cs) — a training
fleet wants files, not cursors.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.llm.sampling import hash_bucket

SHARDS_FILE = "_SHARDS.json"


def shard_assign(
    df: DataFrame,
    num_shards: int,
    id_col: str = "doc_id",
    salt_cols: tuple[str, ...] = (),
):
    """`df` plus a deterministic ``shard`` column in [0, num_shards) from
    the md5 bucket of the id — stable across runs, engines and cluster
    sizes (never use spark_partition_id or monotonically_increasing_id
    for this: both change with parallelism).

    `salt_cols` fold extra columns into the shard key — pass
    ``("epoch",)`` when exporting an apply_mixture output so an
    upsampled document's copies SPREAD across shards instead of piling
    into one (data loaders stream shards independently; co-locating a
    doc's repeats makes the trainer see them back-to-back)."""
    key = F.col(id_col).cast("string")
    if salt_cols:
        key = F.concat_ws(
            ":", key, *[F.col(c).cast("string") for c in salt_cols]
        )
    return df.withColumn("shard", F.pmod(hash_bucket(key), F.lit(num_shards)))


def write_training_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    id_col: str = "doc_id",
    fmt: str = "json",
    salt_cols: tuple[str, ...] = (),
    shuffle_seed: int | None = None,
) -> dict:
    """Export `df` as `num_shards` deterministic shards under
    ``<path>/shard=N/`` (JSONL by default — the common trainer input —
    or parquet) plus a ``_SHARDS.json`` manifest of per-shard row counts
    and bytes.

    Scale shape: one shuffle co-locates each shard into one task
    (repartition on the shard id), so every ``shard=N`` directory holds
    one file and shard sizes are as even as the id hash — no
    driver-side iteration, no second pass over the data (row counts come
    from the same job via a pre-write aggregate on the ALREADY-assigned
    frame, bytes from a directory walk of O(shards) entries).

    `salt_cols` spreads row copies (e.g. mixture epochs) across shards —
    see shard_assign.  `shuffle_seed` writes each shard's rows in a
    deterministic pseudo-random order — md5(seed:id[:salt_cols]) — instead of
    arrival order: the within-shard training order trainers want, changed
    globally by changing one integer, reproduced exactly on re-export.
    The sort is WITHIN the already-co-located shard partition (no extra
    exchange; sort cost is per-shard, not global).

    Returns the manifest {"num_shards", "rows", "shards": {n: {rows,
    bytes}}}."""
    if fmt not in ("json", "parquet"):
        raise ValueError(f"unsupported shard format {fmt!r}")
    assigned = shard_assign(df, num_shards, id_col=id_col, salt_cols=salt_cols)
    counts = {
        int(r["shard"]): int(r["n"])
        for r in assigned.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = assigned.repartition(num_shards, "shard")
    if shuffle_seed is not None:
        order = F.md5(
            F.concat_ws(
                ":",
                F.lit(str(int(shuffle_seed))),
                F.col(id_col).cast("string"),
                *[F.col(c).cast("string") for c in salt_cols],
            )
        )
        # lead with the partition column: the partitioned-file writer
        # requires rows sorted by it and would otherwise re-sort, throwing
        # the seeded order away
        out = out.sortWithinPartitions(F.col("shard"), order)
    writer = out.write.mode("errorifexists").partitionBy("shard")
    getattr(writer, fmt)(path)

    shards: dict[int, dict] = {}
    for n, rows in sorted(counts.items()):
        d = os.path.join(path, f"shard={n}")
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )
        shards[n] = {"rows": rows, "bytes": size}
    manifest = {
        "num_shards": num_shards,
        "format": fmt,
        "rows": sum(counts.values()),
        "shards": shards,
    }
    tmp = os.path.join(path, SHARDS_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=2)
    os.replace(tmp, os.path.join(path, SHARDS_FILE))
    return manifest


def _restore_interrupted_swaps(path: str) -> None:
    """Crash recovery for maintain_training_shards' per-shard swap: a
    refresh renames `shard=N` → `shard=N.old-<txid>` before installing
    the rewrite; a crash in between leaves the `.old` with no `shard=N`.
    Restore it — the interrupted refresh re-runs idempotently after.
    Also sweeps `.staging-*` left by a crash BEFORE any swap began
    (never referenced again; the re-run builds a fresh one)."""
    for d in os.listdir(path):
        if d.startswith(".staging-"):
            import shutil

            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
            continue
        if ".old-" not in d:
            continue
        live = os.path.join(path, d.split(".old-")[0])
        stale = os.path.join(path, d)
        if os.path.exists(live):
            # swap completed; the leftover is droppable
            import shutil

            shutil.rmtree(stale, ignore_errors=True)
        else:
            os.rename(stale, live)


def maintain_training_shards(
    spark,
    root: str,
    path: str,
    src: str = "documents",
    num_shards: int = 64,
    id_col: str = "doc_id",
    columns: tuple[str, ...] | None = None,
) -> dict:
    """CDC-MAINTAINED training export: the shard directory under `path`
    mirrors store table `src` and each refresh rewrites ONLY the shards
    holding changed documents — O(delta + affected shard bytes), never a
    corpus re-export and never even a corpus re-SCAN (the rewrite derives
    from the existing shard files themselves: old shard content minus
    changed ids plus upserted rows).

    This closes the last gap between a curated corpus and the trainer:
    every other index in this layer (dedup, ANN, topics, postings,
    contamination) already follows the corpus incrementally; the export
    was one-shot.  A 100 TB corpus taking a 0.01% daily delta now
    refreshes its training files in minutes — the Delta-to-dataloader
    role WebDataset re-sharding pipelines hand-roll.

    Parquet shards only (the incremental rewrite re-reads shard files;
    JSONL round-trips types lossily).  Epoch salting / seeded shuffles
    (write_training_shards) are one-shot concerns — a maintained mirror
    has no stable notion of "this export's epoch copies".

    Crash contract: per-shard installs are rename-swaps; an interrupted
    refresh is detected (orphaned `shard=N.old-*`) and restored on the
    next call, and the rewrite is idempotent from any half-applied state
    because changed ids are REMOVED from old content before re-adding.
    The source-version watermark advances only after every affected
    shard is installed.

    Returns {"mode": "seed"|"delta"|"noop", "from_version",
    "to_version", "affected_shards", "rows"}.
    """
    from dataintegration_ecomprovider_spark.plans import publish

    cur_version = publish.current_manifest(root)["version"]
    sfile = os.path.join(path, SHARDS_FILE)
    if not os.path.exists(sfile):
        df = publish.read_table(spark, root, src)
        if columns:
            df = df.select(*columns)
        manifest = write_training_shards(
            df, path, num_shards, id_col=id_col, fmt="parquet"
        )
        manifest["source"] = src
        manifest["source_version"] = cur_version
        manifest["id_col"] = id_col
        if columns:
            manifest["columns"] = list(columns)
        tmp = sfile + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, sfile)
        return {
            "mode": "seed", "from_version": 0, "to_version": cur_version,
            "affected_shards": sorted(manifest["shards"]),
            "rows": manifest["rows"],
        }

    with open(sfile, encoding="utf-8") as fh:
        manifest = json.load(fh)
    if manifest.get("format") != "parquet":
        raise ValueError(
            "incremental maintenance needs parquet shards; this export "
            f"was written as {manifest.get('format')!r}"
        )
    last = int(manifest["source_version"])
    if cur_version == last:
        return {
            "mode": "noop", "from_version": last, "to_version": cur_version,
            "affected_shards": [], "rows": manifest["rows"],
        }
    _restore_interrupted_swaps(path)

    changes = publish.read_changes(
        spark, root, src, last, cur_version, keys=[id_col]
    )
    changes = shard_assign(changes, manifest["num_shards"], id_col=id_col)
    changes.persist()
    try:
        affected = sorted(
            int(r["shard"])
            for r in changes.select("shard").distinct().collect()
        )
        if not affected:
            manifest["source_version"] = cur_version
            tmp = sfile + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(manifest, fh, indent=2)
            os.replace(tmp, sfile)
            return {
                "mode": "delta", "from_version": last,
                "to_version": cur_version, "affected_shards": [],
                "rows": manifest["rows"],
            }
        cols = manifest.get("columns")
        upserts = changes.filter(
            F.col("change_type").isin("insert", "update")
        ).select(*(list(cols) + ["shard"] if cols else
                   [c for c in changes.columns if c != "change_type"]))
        changed_ids = changes.select(id_col, "shard")

        def _has_data(d: str) -> bool:
            return os.path.isdir(d) and any(
                not f.startswith(("_", ".")) for f in os.listdir(d)
            )

        # skip empty dirs (a fully-deleted shard installs one): reading
        # them would fail schema inference, and they hold no survivors
        old_dirs = [
            os.path.join(path, f"shard={n}")
            for n in affected
            if _has_data(os.path.join(path, f"shard={n}"))
        ]
        if old_dirs:
            old = spark.read.parquet(*old_dirs)
            # shard is a partition directory column, not in the files:
            # recompute it (deterministic md5 of the id)
            old = shard_assign(
                old.drop("shard"), manifest["num_shards"], id_col=id_col
            )
            survivors = old.join(
                changed_ids.select(id_col), id_col, "left_anti"
            )
            new_content = survivors.unionByName(upserts)
        else:
            new_content = upserts
        counts = {
            int(r["shard"]): int(r["n"])
            for r in new_content.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        txid = uuid.uuid4().hex[:8]
        staging = os.path.join(path, f".staging-{txid}")
        (
            new_content.repartition(len(affected), "shard")
            .write.mode("errorifexists").partitionBy("shard")
            .parquet(staging)
        )
        import shutil

        for n in affected:
            live = os.path.join(path, f"shard={n}")
            built = os.path.join(staging, f"shard={n}")
            if not os.path.exists(built):
                # every row of this shard was deleted: install empty
                os.makedirs(built, exist_ok=True)
            retired = f"{live}.old-{txid}"
            if os.path.exists(live):
                os.rename(live, retired)
            os.rename(built, live)
            shutil.rmtree(retired, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)

        for n in affected:
            d = os.path.join(path, f"shard={n}")
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for f in os.listdir(d)
                if not f.startswith(("_", "."))
            )
            rows = counts.get(n, 0)
            if rows:
                manifest["shards"][str(n)] = {"rows": rows, "bytes": size}
            else:
                manifest["shards"].pop(str(n), None)
        manifest["rows"] = sum(s["rows"] for s in manifest["shards"].values())
        manifest["source_version"] = cur_version
        tmp = sfile + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, sfile)
        return {
            "mode": "delta", "from_version": last, "to_version": cur_version,
            "affected_shards": affected, "rows": manifest["rows"],
        }
    finally:
        changes.unpersist()
