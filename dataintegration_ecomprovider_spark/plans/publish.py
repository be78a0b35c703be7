"""U12 — multi-table atomic publish (stage → validate → swap).

The reference wraps its whole merge phase in one SqlTransaction
(src/EcomProvider.cs:1018-1036, rollback :1072-1073).  Spark has no
cross-table transaction, so the engine provides the same all-or-nothing
visibility with a manifest swap (SURVEY §4 "custom work #1"):

1. every output table is written to ``<root>/data/<txid>/<table>/`` —
   staging is invisible to readers;
2. each staged table is validated (re-readable, expected schema, row-count
   invariants) while still invisible;
3. a single atomic ``os.replace`` of the MANIFEST file flips every table to
   the new version at once.  A crash anywhere before step 3 leaves the
   previous version fully intact; old versions remain for time-travel /
   rollback until vacuumed.

At 100 TB this costs nothing extra: the data write happens once (Spark's
normal parquet job commit), and the swap is one metadata rename — the same
pattern Delta/Iceberg use for their commit step.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import weakref
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.plans.commit_protocol import (
    CommitConflict,
    protocol_for,
)

MANIFEST = "MANIFEST.json"
STATS_FILE = "_STATS.json"
# Delta indexes the first 32 columns by default for the same reason: stats
# cost is per-column per-file, and predicates overwhelmingly hit early
# columns.
MAX_STATS_COLUMNS = 32


class ValidationError(RuntimeError):
    pass


# CAS-retry budget for read-modify-write operators (merge_into, compact,
# recluster): each failed attempt means ANOTHER writer committed (the lock
# serializes swaps), so the system always progresses and a writer needs at
# most one attempt per concurrent peer — 20 covers any plausible
# single-store writer fan-in without risking livelock.
COMMIT_RETRIES = 20


class ConcurrentPublishError(RuntimeError):
    """The manifest advanced past the version a CAS publish expected —
    another writer committed first.  Re-read and retry (merge_into does)."""


def _manifest_lock(root: str, timeout: float = 60.0, stale: float = 300.0):
    """Advisory commit lock: serializes the read-manifest → build → swap
    critical section across writers of one store root.  Only the COMMIT
    is serialized — staging writes and validation run fully concurrently
    outside it, so the lock is held for milliseconds.  A lock older than
    `stale` seconds is presumed abandoned (crashed writer) and taken over
    with a token-guarded reap that cannot remove a live waiter's
    freshly-acquired lock.  Delegates to the store's registered
    CommitProtocol (POSIX O_EXCL by default; object-store deployments
    register a CAS backend — see plans/commit_protocol.py)."""
    return protocol_for(root).lock(root, timeout=timeout, stale=stale)


# Format protocol gate (Delta's minReaderVersion/minWriterVersion role):
# every commit stamps the format versions this codebase speaks; a reader
# opening a manifest stamped with a HIGHER reader requirement refuses
# loudly instead of silently mis-reading features it doesn't understand
# (the failure mode of versionless formats).  Bump READER when a change
# makes old readers return WRONG data (not merely miss an optimization);
# bump WRITER when old writers would corrupt state written by new ones.
READER_VERSION = 1
WRITER_VERSION = 1


class FormatVersionError(RuntimeError):
    """The store requires a newer engine version than this codebase."""


def current_manifest(root: str) -> dict:
    manifest = protocol_for(root).read_manifest(root)
    if manifest is None:
        return {"version": 0, "txid": None, "tables": {}}
    fmt = manifest.get("format") or {}
    if int(fmt.get("reader", 1)) > READER_VERSION:
        raise FormatVersionError(
            f"store at {root} requires reader version {fmt['reader']}; "
            f"this engine speaks {READER_VERSION} — upgrade before reading"
        )
    return manifest


def _read_entry(spark: SparkSession, entry) -> DataFrame:
    """Resolve one manifest table entry.  Plain string = parquet path;
    dict = metadata-carrying entry ({"path", optional "table" +
    "bucket_keys" + "num_buckets" for bucketed tables, optional "keys",
    optional "deltas" for merge-on-read tables}).
    Bucketed tables read via the session catalog so bucket metadata
    survives and joins on the bucket keys skip their Exchange.  If the
    catalog entry is gone (new session against an old manifest), fall back
    to the parquet path — correct, just without the bucket co-location.

    Entries carrying ``deltas`` (written by merge_into_mor) reconstruct
    the merge-on-read state: base rows not overridden by any delta, plus
    the newest delta row per key that is not a delete marker."""
    if isinstance(entry, str):
        return _cached_parquet(spark, entry)
    if "table" in entry:
        try:
            base = spark.table(entry["table"])
        except Exception:
            base = _cached_parquet(spark, entry["path"])
    else:
        base = _cached_parquet(spark, entry["path"])
    if entry.get("deltas"):
        return _apply_deltas(spark, base, entry)
    if entry.get("schema_json"):
        # a delta-less entry can still carry a widened logical schema
        # (e.g. _scan_entry pruned every delta dir away): present it
        from pyspark.sql.types import StructType

        base = _conform_to_schema(
            base, StructType.fromJson(json.loads(entry["schema_json"]))
        )
    return base


def _footer_spark_schema(path: str):
    """Parquet schema of a FLAT (unpartitioned) immutable store dir, or of
    a single parquet file, from one pyarrow footer read (~0.2 ms
    driver-side).  None when the cheap answer could be wrong: partitioned
    layout (partition columns live in directory names, not footers), no
    data files, an unreadable footer, or a nanosecond timestamp (Spark
    reads TIMESTAMP(NANOS) as bigint under the catalog's nanosAsLong
    conf and INT96 as TIMESTAMP, where the arrow mapping says
    TIMESTAMP_NTZ for both).  Store dirs are single-commit writes, so
    every file shares one schema — sampling one footer is exact, not a
    guess."""
    try:
        files = [path] if os.path.isfile(path) else _data_files(path)
        if not files:
            return None
        if any(os.sep in os.path.relpath(f, path) for f in files):
            # nested layout → partition columns in dir names.  ALL files
            # checked: a mixed flat+nested dir would otherwise pass on
            # its first flat file and hand Spark a schema missing the
            # partition columns — unreachable under the store's
            # single-commit invariant, but the full check costs nothing
            # (_data_files already listed)
            return None
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type
        from pyspark.sql.types import StructField, StructType

        # prefer_timestamp_ntz: Spark's parquet scanner reads a tz-naive
        # (isAdjustedToUTC=false) timestamp as TIMESTAMP_NTZ;
        # from_arrow_schema's default would report TimestampType and
        # silently diverge from read_table's schema
        fields = pq.read_schema(files[0])
        # the type's string form names every nested unit too
        # ("list<element: timestamp[ns]>")
        if any("timestamp[ns" in str(f.type) for f in fields):
            return None
        return StructType(
            [
                StructField(
                    f.name,
                    from_arrow_type(f.type, prefer_timestamp_ntz=True),
                    f.nullable,
                )
                for f in fields
            ]
        )
    except Exception:
        return None


def _cached_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` memoized per (session, path) — valid
    ONLY for the store's own data directories, which are immutable by
    construction (a committed data/<txid>/<table> dir is never appended
    to or rewritten; every write mints a fresh txid).  Each uncached read
    costs a JVM file-listing + schema-inference roundtrip (~100-200 ms),
    and a single MoR lifecycle re-resolves the same dirs dozens of times
    — on a real cluster the listing goes to S3, making the dedup worth
    more, not less.  The version is a weakref to the session, so a
    recycled id() after a session is garbage-collected can never serve a
    stale plan; vacuum/compact drop a deleted dir's plan through
    runtime.invalidate_path.

    A miss hands Spark an explicit schema read from one parquet footer
    (the JVM then skips its listing + schema-inference pass), falling
    back to inference for partitioned layouts or any footer trouble."""

    def resolve() -> DataFrame:
        schema = _footer_spark_schema(path)
        if schema is not None and len(schema.fields):
            return spark.read.schema(schema).parquet(path)
        return spark.read.parquet(path)

    return _PARQUET_PLANS.get((id(spark), path), weakref.ref(spark), resolve)


_PARQUET_PLANS = runtime.KeyedCache(512, path=lambda slot: slot[1])


def _staged_has_columns(entry) -> bool | None:
    """Cheap driver-side answer to "does this freshly staged table have at
    least one column?" from a single parquet footer, so the publish-path
    validation launches no Spark read per staged table.  Returns None
    for "can't tell cheaply" (no data files, or a footer with zero
    physical columns — possible when every column is a partition
    column), in which case the caller falls back to the full
    `_read_entry` check."""
    path = entry["path"] if isinstance(entry, dict) else entry
    try:
        import pyarrow.parquet as pq

        files = _data_files(path)
        if not files:
            return None
        return pq.ParquetFile(files[0]).metadata.num_columns > 0 or None
    except Exception:
        return None


def _entry_physical_schema(entry) -> "StructType | None":
    """Driver-side PHYSICAL schema of a committed entry — the file column
    names, before its rename/drop map — from the entry's widened
    ``schema_json`` or else one parquet footer.  None when that could be
    wrong: hive-partitioned layout, no data files, unreadable footer."""
    from pyspark.sql.types import StructType

    if isinstance(entry, dict) and entry.get("partition_by"):
        return None
    if isinstance(entry, dict) and entry.get("schema_json"):
        try:
            return StructType.fromJson(json.loads(entry["schema_json"]))
        except Exception:
            return None
    return _footer_spark_schema(
        entry["path"] if isinstance(entry, dict) else entry
    )


def _as_nullable(dt):
    """`dt` with every field, array element and map value nullable — the
    form Spark gives any file-source schema it reads."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True)
             for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _as_nullable(dt.keyType), _as_nullable(dt.valueType), True
        )
    return dt


def _entry_read_schema(spark: SparkSession, entry):
    """The schema `_read_entry(spark, entry)` resolves to (physical
    names), answered driver-side where possible: building a merge-on-read
    reconstruction plan only to read its ``.schema`` costs tens of ms of
    py4j/Catalyst time per call.  Catalog-backed (bucketed) entries and
    anything _entry_physical_schema cannot answer take the full read."""
    if not (isinstance(entry, dict) and "table" in entry):
        phys = _entry_physical_schema(entry)
        if phys is not None and phys.fields:
            return _as_nullable(phys)
    return _read_entry(spark, entry).schema


def entry_schema(entry) -> "StructType | None":
    """Driver-side LOGICAL schema of a committed entry, from one parquet
    footer (or the entry's widened ``schema_json``) plus its rename/drop
    column map — no Spark read, no JVM file-listing job.  A maintenance
    pass that only needs "which columns does this table have?" pays
    ~100-200 ms per ``spark.read.parquet`` schema-inference roundtrip;
    one pyarrow footer read answers the same question in ~1 ms, and a
    single lifecycle query runs several such checks per refresh
    (guide §1.2: per-task/fixed work, after the algorithm is right).

    Returns None when the cheap answer could be wrong — hive-partitioned
    layout (partition columns never appear in footers), no data files,
    or an unreadable footer — in which case callers MUST fall back to
    the full read path.  MoR delta entries are fine: deltas conform to
    the base schema, and a widened entry carries schema_json."""
    from pyspark.sql.types import StructField, StructType

    phys = _entry_physical_schema(entry)
    if phys is None:
        return None
    try:
        renames, dropped = _column_map(entry)
        if not renames and not dropped:
            return phys
        return StructType(
            [
                StructField(renames.get(f.name, f.name), f.dataType, f.nullable)
                for f in phys.fields
                if f.name not in dropped
            ]
        )
    except Exception:
        return None


def table_schema(root: str, name: str) -> "StructType | None":
    """entry_schema() for `name`'s CURRENT committed version, or None if
    the table doesn't exist or the cheap path can't answer (see
    entry_schema)."""
    entry = current_manifest(root)["tables"].get(name)
    return None if entry is None else entry_schema(entry)


def _entry_paths(entry) -> list[str]:
    """Every data directory a manifest entry references: the base path
    plus any merge-on-read delta directories.  Vacuum/orphan collection
    must treat delta dirs as live data — deleting one would corrupt every
    version whose entry references it."""
    if isinstance(entry, str):
        return [entry]
    return [entry["path"]] + [d["path"] for d in entry.get("deltas", [])]


# merge-on-read delta metadata columns (never visible to readers)
MOR_CHANGE_COL = "__mor_change"
MOR_SEQ_COL = "__mor_seq"
# a delta key-set below this total size rides a broadcast anti-join, so
# the base table never shuffles during reconstruction (the common case:
# deltas are tiny relative to the base).  Above it the join is left to
# the planner/AQE — same gating discipline as dedup_clusters' component
# map (a blind broadcast hint would hard-fail past Spark's 8 GB limit).
MOR_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def _apply_deltas(spark: SparkSession, base: DataFrame, entry: dict) -> DataFrame:
    """Reconstruct a merge-on-read table: ``base`` is the last compacted
    rewrite, ``entry["deltas"]`` an ordered list of upsert/delete row
    files.  Later deltas win over earlier ones and every delta wins over
    the base (the write path appends, never rewrites — see
    merge_into_mor).

    Scale shape: the per-key last-wins resolution shuffles ONLY the delta
    rows (one window over the keys); the base is touched by a single
    anti-join against the distinct delta keys, broadcast while the
    recorded delta bytes stay under MOR_BROADCAST_MAX_BYTES — the 100 TB
    steady state, where a day of deltas is GBs against a 100 TB base and
    the base side neither shuffles nor sorts.  Column pruning pushes
    through the union, so narrow reads stay narrow on both sides.
    """
    keys = entry.get("keys")
    if not keys:
        raise ValidationError(
            "merge-on-read entry has deltas but no recorded keys"
        )
    if entry.get("schema_json"):
        # the entry's logical schema was widened by merge_into_mor(
        # evolve_schema=True): the base parquet lacks the new columns, so
        # conform it (absent → typed null) instead of forcing an O(table)
        # copy-on-write rewrite just to add a column
        from pyspark.sql.types import StructType

        base = _conform_to_schema(
            base, StructType.fromJson(json.loads(entry["schema_json"]))
        )
    cols = base.columns
    if any(_is_partial_delta(d) for d in entry["deltas"]):
        return _apply_deltas_partial(spark, base, entry, list(keys), cols)
    deltas = _read_delta_log(spark, entry["deltas"])
    latest = _latest_per_key(deltas, keys)
    # anti-join semantics don't need a distinct right side — feeding the
    # raw delta keys skips an aggregation and lets the base side proceed
    # without waiting on the last-wins window
    delta_keys = deltas.select(*keys)
    if _deltas_bytes(entry["deltas"]) <= MOR_BROADCAST_MAX_BYTES:
        delta_keys = F.broadcast(delta_keys)
    survivors = base.join(delta_keys, on=list(keys), how="left_anti")
    upserts = latest.filter(F.col(MOR_CHANGE_COL) != "delete").select(*cols)
    return survivors.unionByName(upserts)


def _is_partial_delta(d: dict) -> bool:
    return "partial" in (d.get("kinds") or [])


def _apply_deltas_partial(
    spark: SparkSession, base: DataFrame, entry: dict,
    keys: list[str], cols: list[str],
) -> DataFrame:
    """Merge-on-read reconstruction when the log contains PARTIAL-column
    deltas (merge_into_mor(partial_update=True)).  Later wins PER COLUMN:

    1. resolve the full-row state exactly as the plain path does, but
       carrying each winning row's commit position (base rows = -1);
    2. fold every partial file into one per-key overlay row — for each
       set column, the value from the LATEST file that SETS it (files
       record ``set_cols``, so an explicitly staged NULL is still a
       set); one groupBy over only the partial rows;
    3. left-join the overlay onto the state and apply a column wherever
       its setting position is newer than the row's full-state position
       (a full-row upsert committed AFTER a partial resets the column; a
       partial after it overlays).

    Scale shape: the base still never shuffles or sorts — its only
    contact is the same anti-join against full-delta keys plus one
    broadcast-sized left join against the overlay (both gated by the
    recorded delta bytes); partial rows aggregate once on the keys.
    Partial overlays never create rows, so keys deleted by a later
    marker (absent from the state) drop their stale overlays for free.
    """
    deltas = entry["deltas"]
    full = [(i, d) for i, d in enumerate(deltas) if not _is_partial_delta(d)]
    partial = [(i, d) for i, d in enumerate(deltas) if _is_partial_delta(d)]
    small = _deltas_bytes(deltas) <= MOR_BROADCAST_MAX_BYTES
    WSEQ = "__mor_wseq"

    if full:
        fdf = _read_delta_log(spark, [d for _, d in full],
                              seqs=[i for i, _ in full])
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(F.col(MOR_SEQ_COL).desc())
        latest = (
            fdf.withColumn("__mor_rn", F.row_number().over(w))
            .filter(F.col("__mor_rn") == 1)
        )
        fkeys = fdf.select(*keys)
        if small:
            fkeys = F.broadcast(fkeys)
        state = base.join(fkeys, on=keys, how="left_anti").withColumn(
            WSEQ, F.lit(-1)
        ).unionByName(
            latest.filter(F.col(MOR_CHANGE_COL) != "delete")
            .select(*cols, F.col(MOR_SEQ_COL).alias(WSEQ))
        )
    else:
        state = base.withColumn(WSEQ, F.lit(-1))

    types = {f.name: f.dataType for f in base.schema.fields}
    pcols = [
        c for c in cols
        if any(c in (d.get("set_cols") or []) for _, d in partial)
    ]
    parts = []
    for i, d in partial:
        df = _cached_parquet(spark, d["path"])
        sets = set(d.get("set_cols") or [])
        parts.append(df.select(
            *keys,
            *[
                (F.col(c) if c in sets
                 else F.lit(None).cast(types[c])).alias(c)
                for c in pcols
            ],
            *[F.lit(c in sets).alias(f"__set_{c}") for c in pcols],
            F.lit(i).alias(MOR_SEQ_COL),
        ))
    pu = parts[0]
    for p in parts[1:]:
        pu = pu.unionByName(p)
    aggs = []
    for c in pcols:
        ord_c = F.when(F.col(f"__set_{c}"), F.col(MOR_SEQ_COL))
        # max_by ignores rows whose ordering expression is null, so only
        # files that SET c compete — an explicit staged NULL still wins
        aggs.append(F.max_by(F.col(c), ord_c).alias(f"__v_{c}"))
        aggs.append(F.max(ord_c).alias(f"__s_{c}"))
    overlay = pu.groupBy(*keys).agg(*aggs)
    if small:
        overlay = F.broadcast(overlay)
    joined = state.join(overlay, on=keys, how="left")
    return joined.select(*[
        F.when(
            F.col(f"__s_{c}").isNotNull()
            & (F.col(f"__s_{c}") > F.col(WSEQ)),
            F.col(f"__v_{c}"),
        ).otherwise(F.col(c)).alias(c)
        if c in pcols else F.col(c)
        for c in cols
    ])


def _read_delta_log(
    spark: SparkSession, deltas: Sequence[dict],
    seqs: Sequence[int] | None = None,
) -> DataFrame:
    """Union of the given delta files, each tagged with its position in
    the log (MOR_SEQ_COL) so later files win per-key resolution.  Files
    written before a schema evolution are narrower than later ones —
    allowMissingColumns fills the gap with nulls.  `seqs` overrides the
    positional tags (the partial-overlay path numbers full and partial
    files on ONE shared axis)."""
    parts = [
        _cached_parquet(spark, d["path"]).withColumn(
            MOR_SEQ_COL, F.lit(seqs[i] if seqs is not None else i)
        )
        for i, d in enumerate(deltas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# lossless widenings the MoR evolve path accepts as metadata-only type
# changes (Delta/Iceberg's type-widening set, minus date→timestamp):
# every value of the FROM type is exactly representable in the TO type,
# so readers casting old files up can never corrupt data.  int→double is
# included (2^31 < 2^53); long→double is NOT (would round large values).
_TYPE_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
}


def _is_type_widening(frm, to) -> bool:
    """True when `to` losslessly widens `frm` (strictly — equal types are
    not a widening)."""
    from pyspark.sql.types import DecimalType

    if frm == to:
        return False
    if isinstance(frm, DecimalType) and isinstance(to, DecimalType):
        return to.scale == frm.scale and to.precision > frm.precision
    return (frm.typeName(), to.typeName()) in _TYPE_WIDENINGS


def _conform_to_schema(df: DataFrame, schema) -> DataFrame:
    """Project `df` onto `schema` exactly: present columns cast, absent
    columns ride as typed nulls."""
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _latest_per_key(deltas: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The newest delta row per key (upsert row or delete marker) — one
    window over ONLY the delta rows, never the base."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(MOR_SEQ_COL).desc())
    return (
        deltas.withColumn("__mor_rn", F.row_number().over(w))
        .filter(F.col("__mor_rn") == 1)
        .drop("__mor_rn", MOR_SEQ_COL)
    )


def _deltas_bytes(deltas: Sequence[dict]) -> int:
    return sum(int(d.get("bytes", 0)) for d in deltas)


# --- column mapping: metadata-only rename/drop --------------------------
#
# rename_column / drop_column commit a LOGICAL column map on the manifest
# entry instead of rewriting data — Delta's column-mapping / Iceberg's
# field-ID trade, because at 100 TB "rename a column" must not cost an
# O(table) rewrite.  Invariants:
#
# - PHYSICAL names (what parquet files, delta logs, stats/bloom sidecars,
#   recorded keys, partition dirs and bucket specs carry) are IMMUTABLE
#   for the life of a base lineage.  compact/recluster read and rewrite
#   in physical space and carry the map forward, so CDC's suffix
#   composition and rewrite_of bridging stay valid across rewrites.
# - LOGICAL names exist only at the public boundary: read_table/scan_*/
#   snapshot reads apply the map last; merge_into_mor translates staging
#   back to physical first; scan predicates and CDC keys translate on
#   the way in, CDC output translates on the way out.
# - A remap commit keeps the entry's path and delta log byte-identical
#   (_entry_signature ignores the map), so version spans containing one
#   bridge through the O(delta) CDC fast path with zero special cases —
#   and contribute zero row changes, which is exactly a rename's CDC.

def _column_map(entry) -> tuple[dict, list]:
    """({physical: logical} renames, [dropped physical names])."""
    if not isinstance(entry, dict):
        return {}, []
    return dict(entry.get("renames") or {}), list(entry.get("dropped") or [])


def _logical_view(entry, df: DataFrame) -> DataFrame:
    """Present a physically-read frame in the entry's logical schema:
    dropped columns hidden, renamed columns aliased.  A plain projection
    — Catalyst collapses it into the scan, so the map costs nothing."""
    renames, dropped = _column_map(entry)
    if not renames and not dropped:
        return df
    return df.select(
        *[
            F.col(c).alias(renames.get(c, c))
            for c in df.columns
            if c not in dropped
        ]
    )


def _phys_name(entry, col: str) -> str:
    """Logical column name → the physical name stored in the files."""
    renames, _ = _column_map(entry)
    for p, l in renames.items():
        if l == col:
            return p
    return col


def _constraint_columns(spec) -> list[str]:
    kind = spec[0]
    if kind in ("not_null", "unique"):
        return list(spec[1:])
    if kind in ("values_in", "range"):
        return [spec[1]]
    return []


def _phys_constraints(entry, specs):
    """Constraint specs with LOGICAL column names translated to the
    physical names a conformed staging frame carries."""
    renames, _ = _column_map(entry)
    if not renames:
        return [list(s) for s in specs]
    l2p = {l: p for p, l in renames.items()}
    out = []
    for s in specs:
        kind = s[0]
        if kind in ("not_null", "unique"):
            out.append([kind, *[l2p.get(c, c) for c in s[1:]]])
        elif kind in ("values_in", "range"):
            out.append([kind, l2p.get(s[1], s[1]), *s[2:]])
        else:
            out.append(list(s))
    return out


def _logical_changes(entry, df: DataFrame, change_col: str) -> DataFrame:
    """Map a PHYSICAL-space diff_frames output to the entry's logical
    naming: value/key columns rename, their ``<col>__old`` twins follow,
    the change-type column passes through.  Dropped columns were
    excluded before the diff."""
    renames, _ = _column_map(entry)
    if not renames:
        return df
    out = []
    for c in df.columns:
        if c == change_col:
            out.append(F.col(c))
        elif c.endswith("__old") and c[:-5] in renames:
            out.append(F.col(c).alias(renames[c[:-5]] + "__old"))
        else:
            out.append(F.col(c).alias(renames.get(c, c)))
    return df.select(*out)


def _rewrite_where_cols(node, fn):
    """One predicate node with every column name passed through `fn`."""
    if _is_composite(node):
        return (node[0],) + tuple(_rewrite_where_cols(n, fn) for n in node[1:])
    col, rest = node[0], node[1:]
    return (fn(col),) + tuple(rest)


def _phys_where(entry, where: Sequence[tuple]) -> list:
    """Rewrite every column name in a predicate tree logical → physical
    (physical names are what the stats/bloom sidecars and parquet files
    carry)."""
    renames, _ = _column_map(entry)
    if not renames:
        return list(where)
    l2p = {l: p for p, l in renames.items()}
    return [_rewrite_where_cols(n, lambda c: l2p.get(c, c)) for n in where]


def _update_entry_meta(root: str, name: str, mutate) -> dict:
    """Commit a metadata-only change to one table entry: `mutate(entry)`
    edits the dict in place under the manifest lock; the data on disk is
    untouched and a new version records the change.  Returns the new
    manifest."""
    txid = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
    with _manifest_lock(root):
        prev = current_manifest(root)
        if name not in prev["tables"]:
            raise KeyError(f"table {name!r} has no committed version under {root}")
        entry = prev["tables"][name]
        entry = {"path": entry} if isinstance(entry, str) else dict(entry)
        mutate(entry)
        manifest = {
            "version": prev["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "committed_at_unix": time.time(),
            "tables": {**prev["tables"], name: entry},
            **_history_fields(root, prev),
        }
        return _commit(root, txid, manifest, based_on=prev["version"])


def drop_table(root: str, name: str) -> dict:
    """Remove `name` from the store's CURRENT version — an O(1) metadata
    commit.  Past versions still carry it (time travel keeps working;
    rollback resurrects it) until vacuum's retention window rolls past
    them and reclaims the data directories — the standard
    versioned-store DROP.  A declared view reading the dropped table
    fails at its next refresh with a per-view isolated, queryable error
    (materialize.view_refresh_errors); re-declare or undeclare it.
    Returns the new manifest."""
    txid = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
    with _manifest_lock(root):
        prev = current_manifest(root)
        if name not in prev["tables"]:
            raise KeyError(
                f"table {name!r} has no committed version under {root}"
            )
        tables = {k: v for k, v in prev["tables"].items() if k != name}
        manifest = {
            "version": prev["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "committed_at_unix": time.time(),
            "tables": tables,
            **_history_fields(root, prev),
        }
        return _commit(root, txid, manifest, based_on=prev["version"])


def rename_column(
    spark: SparkSession, root: str, name: str, old: str, new: str
) -> dict:
    """Rename a column of `name` WITHOUT rewriting any data — an O(1)
    metadata commit (Delta column mapping's trade; at 100 TB a rename
    must not cost an O(table) rewrite).  Readers of the new version see
    `new`; time travel to older versions still sees `old`; scans with
    predicates on `new` keep full stats/bloom file-skipping (probes
    translate to the physical name the sidecars carry); merge_into_mor
    accepts staging in the new name; CDC across the rename commit emits
    ZERO row changes and the O(delta) fast path bridges it.  The
    physical files keep the old name until a copy-on-write merge_into
    republishes the table (which folds the map into fresh files).

    Renaming key, partition and bucket columns is allowed — those specs
    are recorded in physical space and never move."""
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    logical_cols = _logical_view(entry, _read_entry(spark, entry)).columns
    if old not in logical_cols:
        raise ValueError(f"{name!r} has no column {old!r}")
    if new in logical_cols:
        raise ValueError(f"{name!r} already has a column {new!r}")
    phys = _phys_name(entry, old)

    def mutate(e: dict) -> None:
        renames, _ = _column_map(e)
        if new == phys:
            renames.pop(phys, None)  # renamed back to its physical name
        else:
            renames[phys] = new
        if renames:
            e["renames"] = renames
        else:
            e.pop("renames", None)
        if e.get("constraints"):
            # constraints are declared in logical names: follow the rename
            rewritten = []
            for spec in e["constraints"]:
                spec = list(spec)
                if spec[0] in ("not_null", "unique"):
                    spec[1:] = [new if c == old else c for c in spec[1:]]
                elif spec[0] in ("values_in", "range") and spec[1] == old:
                    spec[1] = new
                rewritten.append(spec)
            e["constraints"] = rewritten

    return _update_entry_meta(root, name, mutate)


def drop_column(spark: SparkSession, root: str, name: str, col: str) -> dict:
    """Drop a column of `name` WITHOUT rewriting any data — an O(1)
    metadata commit.  Readers of the new version no longer see it; time
    travel to older versions still does; CDC ignores changes confined to
    it.  The bytes remain in the physical files until a copy-on-write
    merge_into republishes the table — for a privacy-driven purge,
    follow the drop with one.

    Key, partition and bucket columns cannot be dropped (the table's
    layout and identity depend on them); a dropped column's PHYSICAL
    name cannot be reused by schema evolution until a rewrite purges it
    (merge_into_mor refuses, to keep old file data from bleeding into
    the new column)."""
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    logical_cols = _logical_view(entry, _read_entry(spark, entry)).columns
    if col not in logical_cols:
        raise ValueError(f"{name!r} has no column {col!r}")
    if len(logical_cols) == 1:
        raise ValueError(f"cannot drop {name!r}'s only column")
    phys = _phys_name(entry, col)
    if isinstance(entry, dict):
        protected = set(entry.get("keys") or [])
        protected |= set(entry.get("partition_by") or [])
        protected |= set(entry.get("partition_spec") or [])
        protected |= set(entry.get("bucket_keys") or [])
        # bucketed merge tables record NORMALIZED '__k_<col>' bucket keys;
        # the underlying source column is equally load-bearing (mirror
        # table_keys' normalization, publish.py:648)
        protected |= {k[4:] for k in list(protected) if k.startswith("__k_")}
        if phys in protected:
            raise ValueError(
                f"column {col!r} is a key/partition/bucket column of "
                f"{name!r} and cannot be dropped"
            )
        constrained = [
            s for s in entry.get("constraints", [])
            if col in _constraint_columns(s)
        ]
        if constrained:
            raise ValueError(
                f"column {col!r} is referenced by constraints "
                f"{constrained}; clear them (set_constraints) first"
            )

    def mutate(e: dict) -> None:
        renames, dropped = _column_map(e)
        renames.pop(phys, None)
        if renames:
            e["renames"] = renames
        else:
            e.pop("renames", None)
        e["dropped"] = dropped + [phys]

    return _update_entry_meta(root, name, mutate)


def widen_column_type(
    spark: SparkSession, root: str, name: str, col: str, new_type
) -> dict:
    """Widen one column's type WITHOUT a write batch — the pure-metadata
    ALTER COLUMN TYPE (the staging-driven form is
    merge_into_mor(evolve_schema=True) with a wider-typed batch).  Only
    LOSSLESS widenings are accepted (_TYPE_WIDENINGS: int→long,
    float→double, decimal precision growth), so no reader can ever see
    corrupted values: the widened logical schema lands in the entry's
    schema_json, old files cast up at read time, compact materializes.

    `new_type` is a Spark DataType or DDL string ("bigint",
    "decimal(12,2)").  Works on plain and merge-on-read tables alike;
    time travel keeps the narrow type at old versions; CDC across the
    commit emits zero row changes (the data signature is untouched)."""
    from pyspark.sql.types import DataType, StructType

    if not isinstance(new_type, DataType):
        new_type = spark.createDataFrame([], f"__x {new_type}") \
            .schema[0].dataType
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    logical = _logical_view(entry, _read_entry(spark, entry))
    if col not in logical.columns:
        raise ValueError(f"{name!r} has no column {col!r}")
    cur_type = logical.schema[col].dataType
    if not _is_type_widening(cur_type, new_type):
        raise ValueError(
            f"{cur_type.simpleString()} → {new_type.simpleString()} is not "
            f"a lossless widening for {name!r}.{col} (allowed: int chain "
            "→ long, float→double, int→double, decimal precision growth); "
            "lossy changes need a copy-on-write rewrite"
        )
    phys = _phys_name(entry, col)
    # schema_json lives in PHYSICAL name space (the base files' columns)
    raw = _read_entry(spark, entry).schema
    wide = StructType([
        type(f)(f.name, new_type if f.name == phys else f.dataType,
                True) for f in raw.fields
    ])
    wide_json = json.dumps(wide.jsonValue())

    def mutate(e: dict) -> None:
        e["schema_json"] = wide_json

    return _update_entry_meta(root, name, mutate)


def set_partition_spec(
    spark: SparkSession, root: str, name: str, partition_by: Sequence[str]
) -> dict:
    """Declare a NEW hive-partition spec for `name` WITHOUT rewriting any
    data — an O(1) metadata commit (the Iceberg partition-spec-evolution
    role: at 100 TB "repartition the table by (year, tenant)" must not
    cost an up-front O(table) rewrite).

    The committed base keeps its recorded layout, and every reader —
    current, time-traveled, CDC — keeps pruning each version's files
    under the spec they were WRITTEN under; merge-on-read merges continue
    unchanged.  The declared spec takes effect at the table's next FULL
    rewrite: compact() (the lazy migration point), a copy-on-write
    merge_into, or any full publish — after which the fresh files lie in
    the new directories and the declaration folds away.  Declaring the
    table's current layout cancels a pending declaration; an empty spec
    declares the table unpartitioned.  Bucketed tables refuse (the
    bucket hash pins their layout).

    CDC across the declaration emits ZERO row changes (the entry's data
    signature is untouched) and the O(delta) fast paths bridge it."""
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    if isinstance(entry, dict) and entry.get("bucket_keys"):
        raise ValueError(
            f"table {name!r} is bucketed; partition evolution does not "
            "apply to bucket layouts"
        )
    logical_cols = _logical_view(entry, _read_entry(spark, entry)).columns
    missing = [c for c in partition_by if c not in logical_cols]
    if missing:
        raise ValueError(f"{name!r} has no column(s) {missing}")
    phys = [_phys_name(entry, c) for c in partition_by]

    def mutate(e: dict) -> None:
        if phys == list(e.get("partition_by") or []):
            e.pop("partition_spec", None)
        else:
            e["partition_spec"] = phys

    return _update_entry_meta(root, name, mutate)


def table_keys(root: str, name: str) -> list[str] | None:
    """The key columns recorded for `name` in the current manifest (the
    store-level analog of the reference's IsPrimaryKey schema flags,
    src/EcomProvider.cs:393-406), or None if never declared.  Recorded at
    publish time (publish_tables(table_keys=...) or any merge_into /
    bucketed publish) and carried forward across versions, so CDC reads
    and incremental merges need no caller-side key bookkeeping."""
    manifest = current_manifest(root)
    entry = manifest["tables"].get(name)
    if isinstance(entry, dict):
        keys = entry.get("keys") or entry.get("bucket_keys")
        if keys:
            # bucket keys may be materialized __k_ norm columns; report
            # the logical key names (column-map renames included)
            renames, _ = _column_map(entry)
            keys = [k[4:] if k.startswith("__k_") else k for k in keys]
            return [renames.get(k, k) for k in keys]
    return None


def read_table(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read the current committed version of `name` (readers never see
    in-flight staging directories)."""
    manifest = current_manifest(root)
    if name not in manifest["tables"]:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    entry = manifest["tables"][name]
    return _logical_view(entry, _read_entry(spark, entry))


def publish_tables(
    spark: SparkSession,
    outputs: Mapping[str, DataFrame],
    root: str,
    validators: Mapping[str, Callable[[DataFrame], None]] | None = None,
    bucket_keys: Mapping[str, list] | None = None,
    num_buckets: int = 32,
    table_keys: Mapping[str, Sequence[str]] | None = None,
    expected_version: int | None = None,
    partition_by: Mapping[str, Sequence[str]] | None = None,
    collect_stats: bool = True,
    stats_columns: Mapping[str, Sequence[str]] | None = None,
    rewrite_of: Mapping[str, int] | None = None,
    column_map: Mapping[str, dict] | None = None,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Stage every output, validate, then commit with one manifest swap.

    `txn=(app_id, batch_id)` makes the commit IDEMPOTENT per application
    (Delta's `txn` action): if a commit from `app_id` with an id >=
    `batch_id` already landed, this call stages nothing new — it cleans
    up its staging, returns the CURRENT manifest annotated with
    ``txn_skipped=True``, and the store version does not move.  This is
    the exactly-once primitive for foreachBatch sinks: a checkpoint
    replay of an already-committed micro-batch becomes a no-op instead
    of a duplicate version (see streaming/incremental.stream_into_store).
    The watermark map survives unrelated commits (renames, compaction,
    vacuum) because every manifest constructor carries it forward.

    Concurrency: the commit (read-latest-manifest → chain → swap) runs
    under an advisory lock, so concurrent publishers to the SAME root
    serialize and never lose each other's tables.  `expected_version`
    adds compare-and-swap semantics: the commit aborts with
    ConcurrentPublishError if the store moved past that version while
    this publish was staging — the read-modify-write guard merge_into
    uses to retry instead of silently overwriting a concurrent merge.

    `validators[name]` is called with the RE-READ staged DataFrame and
    raises to abort the whole publish (nothing becomes visible — the
    reference's rollback).  Returns the new manifest.

    `bucket_keys[name]` publishes that table BUCKETED on those columns
    (an external table at the staged path, registered per-version in the
    session catalog): the next job's merge against it — and any reader
    joining on the keys — skips its Exchange.  This closes the loop with
    run_job(bucketed_staging=True): destination tables round-trip through
    publish/read_table without ever re-shuffling on their merge keys,
    the analog of the reference keeping destination tables indexed on
    their keys across job runs.  For case-insensitive STRING merge keys,
    bucket on the materialized `__k_<key>` norm columns (see
    operators/bucketing.norm_bucket_columns) — bucketing the raw casing
    co-locates nothing for a ci() comparison.

    `table_keys[name]` records that table's logical key columns in the
    manifest (see table_keys()): CDC reads and incremental merges then
    need no caller-side key bookkeeping.  Keys recorded by a previous
    version carry forward automatically — declare once per table, not per
    publish.

    `partition_by[name]` publishes that table hive-partitioned on those
    columns (`<path>/<col>=<val>/...`): readers filtering on them prune
    whole directories at plan time (`PartitionFilters` in the scan — the
    100 TB pattern of partitioning fact tables by ingest date).  Like
    keys, a table's partition spec carries forward across versions, so
    merge_into / compact republish the same layout without re-declaring
    it.  Mutually exclusive with bucket_keys for the same table.

    `collect_stats=True` (default) records per-file column min/max/null
    statistics in a `_STATS.json` sidecar inside each staged table
    directory (plus per-table rows/bytes in the manifest entry), from the
    parquet footers already written — no extra Spark job, O(files) driver
    footer reads, the same cost/benefit trade as Delta's stats collection.
    scan_table() uses them to skip files that provably cannot match a
    predicate before Spark ever lists them.  `stats_columns[name]` narrows
    which columns get min/max (default: the first MAX_STATS_COLUMNS
    primitive columns).

    `rewrite_of[name]` records VALUE-PRESERVING rewrite provenance on the
    staged entry (compact/recluster set it): the claim is "this entry's
    BASE path alone reconstructs exactly the table's state at version
    `rewrite_of[name]`".  The claim is a property of the base path, so it
    survives later merge-on-read delta appends (merge_into_mor copies the
    entry and only extends `deltas`) and carry-forward across versions.
    CDC consumers use it to bridge the O(delta) fast path across layout
    rewrites (_bridged_delta_suffix): a rewrite whose provenance points
    at the immediately preceding version contributes ZERO changes to a
    version diff, so nightly compaction no longer forces every
    store_changes stream / replica / maintained view into an O(2×table)
    full diff.  Callers other than the rewrite operators should leave it
    unset — stamping it on a data-changing publish would corrupt CDC.

    `column_map[name]` (internal — compact/recluster) carries a
    rename/drop column map (``{"renames": ..., "dropped": ...}``) onto
    the staged entry verbatim: those rewrites read and write in PHYSICAL
    column space, so the logical map must ride along.  Every other
    publish writes the frame's own (logical) names physically, which
    resets the map — and carried-forward keys/partition specs translate
    to their logical names to match the fresh files.
    """
    os.makedirs(root, exist_ok=True)
    _t_publish = time.perf_counter()
    txid = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
    staged_paths: dict[str, object] = {}
    prev = current_manifest(root)
    if _txn_gate(prev, txn):
        # already applied (cheap pre-stage check; the authoritative gate
        # re-runs under the commit lock) — skip the whole staging pass
        return {**prev, "txn_skipped": True}

    def _carried(name: str, field: str) -> list[str] | None:
        prev_entry = prev["tables"].get(name)
        if not (isinstance(prev_entry, dict) and prev_entry.get(field)):
            return None
        vals = list(prev_entry[field])
        if column_map and name in column_map:
            return vals  # map rides along: stay physical
        renames, _ = _column_map(prev_entry)
        # fresh files carry logical names physically: translate
        return [renames.get(v, v) for v in vals]

    def _keys_for(name: str) -> list[str] | None:
        if table_keys and name in table_keys:
            return list(table_keys[name])
        return _carried(name, "keys")

    def _parts_for(name: str) -> list[str] | None:
        if partition_by and name in partition_by:
            return list(partition_by[name])
        prev_entry = prev["tables"].get(name)
        if isinstance(prev_entry, dict) and "partition_spec" in prev_entry:
            # a declared spec evolution (set_partition_spec): any FULL
            # write of the table is the migration point — fresh files
            # land under the declared layout and the declaration folds
            # away (the new entry records it as its partition_by).  An
            # empty declared spec migrates to unpartitioned.
            spec = list(prev_entry["partition_spec"])
            if not (column_map and name in column_map):
                renames, _ = _column_map(prev_entry)
                spec = [renames.get(v, v) for v in spec]
            return spec or None
        return _carried(name, "partition_by")

    def _stage_one(name: str, df: DataFrame):
        path = os.path.join(root, "data", txid, name)
        keys_meta = _keys_for(name)
        parts = _parts_for(name)
        if parts and bucket_keys and name in bucket_keys:
            raise ValueError(
                f"{name}: partition_by and bucket_keys are mutually exclusive"
            )
        if bucket_keys and name in bucket_keys:
            keys = list(bucket_keys[name])
            tname = f"pub_{name}_{txid}".replace("-", "_")
            (
                df.repartition(num_buckets, *keys)
                .write.mode("errorifexists")
                .bucketBy(num_buckets, *keys)
                .sortBy(*keys)
                .option("path", path)
                .saveAsTable(tname)
            )
            entry: dict = {
                "path": path, "table": tname,
                "bucket_keys": keys, "num_buckets": num_buckets,
            }
            if keys_meta:
                entry["keys"] = keys_meta
            return entry
        if parts:
            df.write.mode("errorifexists").partitionBy(*parts).parquet(path)
            entry = {"path": path, "partition_by": parts}
            if keys_meta:
                entry["keys"] = keys_meta
            return entry
        if keys_meta:
            df.write.mode("errorifexists").parquet(path)
            return {"path": path, "keys": keys_meta}
        df.write.mode("errorifexists").parquet(path)
        return path

    # stage tables CONCURRENTLY: each staged table is its own Spark write
    # job into its own directory, and a multi-table transaction otherwise
    # pays N sequential job launches for what the scheduler can overlap
    # (job-level parallelism is exactly what Spark's FIFO scheduler
    # time-slices across a 1000-executor cluster too — small per-table
    # writes stop serializing on each other's task-launch latency);
    # staged_paths keeps the caller's table order
    staged_paths.update(zip(outputs, runtime.map_concurrently(
        lambda item: _stage_one(*item), outputs.items()
    )))

    if collect_stats:
        for name, entry in list(staged_paths.items()):
            path = entry["path"] if isinstance(entry, dict) else entry
            cols = list(stats_columns[name]) if stats_columns and name in stats_columns else None
            summary = write_stats_sidecar(path, columns=cols)
            if not isinstance(entry, dict):
                entry = {"path": path}
            entry["rows"] = summary["rows"]
            entry["bytes"] = summary["bytes"]
            entry["num_files"] = summary["num_files"]
            staged_paths[name] = entry

    if rewrite_of:
        for name, version in rewrite_of.items():
            if name not in staged_paths:
                continue
            entry = staged_paths[name]
            if not isinstance(entry, dict):
                entry = {"path": entry}
            entry["rewrite_of"] = int(version)
            staged_paths[name] = entry

    if column_map:
        for name, cmap in column_map.items():
            if name not in staged_paths or not cmap:
                continue
            entry = staged_paths[name]
            if not isinstance(entry, dict):
                entry = {"path": entry}
            if cmap.get("renames"):
                entry["renames"] = dict(cmap["renames"])
            if cmap.get("dropped"):
                entry["dropped"] = list(cmap["dropped"])
            staged_paths[name] = entry

    # persisted constraints carry forward like keys, and gate the commit:
    # the staged state must satisfy them (declare once — call sites can't
    # forget).  Value-preserving rewrites skip the re-check: they cannot
    # introduce a violation, and an O(table) re-validation per nightly
    # compact would be pure waste.
    for name in list(staged_paths):
        prev_entry = prev["tables"].get(name)
        if isinstance(prev_entry, dict) and prev_entry.get("constraints"):
            entry = staged_paths[name]
            if not isinstance(entry, dict):
                entry = {"path": entry}
            entry["constraints"] = [
                list(s) for s in prev_entry["constraints"]
            ]
            if prev_entry.get("on_violation"):
                # the violation MODE travels with the specs — dropping it
                # here would silently flip a quarantine-mode table back
                # to hard-fail at its first copy-on-write rewrite
                entry["on_violation"] = prev_entry["on_violation"]
            staged_paths[name] = entry

    for name, entry in staged_paths.items():
        cons = entry.get("constraints") if isinstance(entry, dict) else None
        needs_frame = bool(
            (validators and name in validators)
            or (cons and not (rewrite_of and name in rewrite_of))
        )
        if not needs_frame:
            # nothing to validate beyond "has columns": answer that from
            # one parquet footer on the driver instead of launching a
            # Spark read of the staged directory (a per-commit fixed cost
            # that dominated small commits).  Unknown (no files, or a
            # partition-column-only footer) falls through to the full read.
            nonempty = _staged_has_columns(entry)
            if nonempty is True:
                continue
        staged = _read_entry(spark, entry)
        if not staged.schema.fields:
            raise ValidationError(f"{name}: staged table has no columns")
        if validators and name in validators:
            validators[name](staged)
        if cons and not (rewrite_of and name in rewrite_of):
            try:
                _constraint_validator(cons)(staged)
            except ValidationError as e:
                raise ValidationError(
                    f"{name}: persisted constraint violated: {e}"
                ) from e

    # commit critical section: re-read the manifest as it stands NOW
    # (staging/validation may be long) and chain the swap off it, under
    # the advisory lock so concurrent publishers serialize
    with _manifest_lock(root):
        prev = current_manifest(root)
        if _txn_gate(prev, txn):
            # a concurrent/earlier commit from this app already applied
            # this batch: drop our staging and leave the store untouched
            shutil.rmtree(
                os.path.join(root, "data", txid), ignore_errors=True
            )
            return {**prev, "txn_skipped": True}
        if expected_version is not None and prev["version"] != expected_version:
            raise ConcurrentPublishError(
                f"store at version {prev['version']}, expected "
                f"{expected_version} — another writer committed first"
            )
        manifest = {
            "version": prev["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            # sub-second commit stamp for TIMESTAMP AS OF reads
            "committed_at_unix": time.time(),
            # carry forward tables not touched by this publish (the
            # reference's transaction only touches staged tables; others
            # keep their state)
            "tables": {**prev["tables"], **staged_paths},
            # committed-version history: staged data dirs are never
            # rewritten, so old versions stay readable (time travel /
            # rollback) until a vacuum prunes them; the oldest entries
            # live in spilled checkpoint files (see _history_fields)
            **_history_fields(root, prev),
            # after _history_fields: the new watermark overrides the
            # carried-forward txns map
            **_txn_fields(prev, txn),
            # stage-to-swap wall time, carried into the history entry
            # like every other manifest field: DESCRIBE HISTORY reads
            # each version's cost from the store itself
            "commit_wall_ms": round(
                (time.perf_counter() - _t_publish) * 1000, 1
            ),
        }
        return _commit(root, txid, manifest, based_on=prev["version"])


def _commit(
    root: str, txid: str, manifest: dict, based_on: int | None = None
) -> dict:
    """Atomically publish `manifest` through the store's CommitProtocol.
    `based_on` = the version this writer's critical section read; CAS
    backends reject a swap whose based_on the live version moved past
    (→ ConcurrentPublishError, re-read and retry)."""
    try:
        protocol_for(root).swap_manifest(
            root, txid, manifest, based_on=based_on
        )
    except CommitConflict as e:
        raise ConcurrentPublishError(str(e)) from e
    return manifest


# MANIFEST.json carries the full table map of every historical version, so
# without a bound it grows (and is rewritten) O(versions × tables) per
# commit.  Past HISTORY_INLINE_MAX entries, the oldest half spills to an
# immutable checkpoint file under <root>/_history/ and the manifest keeps
# only a {file, from, to} pointer — the Delta checkpoint / Iceberg
# metadata-log role: commit cost stays O(recent), however old the store.
HISTORY_INLINE_MAX = 64
HISTORY_DIR = "_history"


def _history_fields(root: str, prev: dict) -> dict:
    """The carry-forward fields for a manifest that supersedes `prev`:
    prev's snapshot appended inline to the history, oldest entries spilled
    once the inline list exceeds HISTORY_INLINE_MAX, plus the
    transaction-watermark map (see `last_txn`) — every commit path spreads
    this, so a rename/compact/vacuum between two stream batches never
    erases an application's idempotence watermark.  Spill files are
    written BEFORE the commit point — a crashed commit leaves an orphaned
    spill file (harmless, overwritten by name on retry), never a manifest
    pointing at a missing file."""
    hist = list(prev.get("history", []))
    if prev["version"]:
        hist.append(
            {"version": prev["version"], "txid": prev.get("txid"),
             "tables": prev["tables"],
             "committed_at_unix": prev.get("committed_at_unix"),
             "commit_wall_ms": prev.get("commit_wall_ms")}
        )
    spills = list(prev.get("history_spills", []))
    if len(hist) > HISTORY_INLINE_MAX:
        # spill down to half the cap so commits amortize to O(1) spills
        cut = len(hist) - HISTORY_INLINE_MAX // 2
        chunk, hist = hist[:cut], hist[cut:]
        os.makedirs(os.path.join(root, HISTORY_DIR), exist_ok=True)
        fname = (
            f"HISTORY-{chunk[0]['version']:010d}-{chunk[-1]['version']:010d}"
            ".json"
        )
        fpath = os.path.join(root, HISTORY_DIR, fname)
        tmp = fpath + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump({"entries": chunk}, fh)
        os.replace(tmp, fpath)
        spills.append(
            {"file": fname, "from": chunk[0]["version"],
             "to": chunk[-1]["version"]}
        )
    fmt = prev.get("format") or {}
    if int(fmt.get("writer", 1)) > WRITER_VERSION:
        raise FormatVersionError(
            f"store requires writer version {fmt['writer']}; this engine "
            f"writes {WRITER_VERSION} — reading is allowed, writing is not"
        )
    out = {
        "history": hist,
        # never downgrade a store's declared requirements
        "format": {
            "reader": max(READER_VERSION, int(fmt.get("reader", 1))),
            "writer": max(WRITER_VERSION, int(fmt.get("writer", 1))),
        },
    }
    if spills:
        out["history_spills"] = spills
    if prev.get("txns"):
        out["txns"] = dict(prev["txns"])
    return out


def last_txn(root: str, app_id: str) -> int | None:
    """The highest transaction id committed under `app_id` (Delta's `txn`
    action role): writers that stamp commits with ``txn=(app_id, n)`` can
    ask "did my batch n land?" after a crash and resume from the answer
    instead of re-applying.  None = no commit from this application."""
    v = current_manifest(root).get("txns", {}).get(app_id)
    return None if v is None else int(v)


def _txn_gate(prev: dict, txn: tuple[str, int] | None) -> bool:
    """True = this commit was already applied (watermark at or past the
    batch id) and must be skipped.  Runs under the commit lock, so the
    answer is authoritative — the exactly-once primitive foreachBatch
    sinks need for checkpoint replays of non-idempotent modes."""
    if txn is None:
        return False
    app_id, batch_id = txn
    seen = prev.get("txns", {}).get(app_id)
    return seen is not None and int(seen) >= int(batch_id)


def _txn_fields(prev: dict, txn: tuple[str, int] | None) -> dict:
    """The txns map for the NEW manifest: prev's map plus this commit's
    watermark (monotone per app — a lower replayed id never lowers it)."""
    if txn is None:
        return {}
    app_id, batch_id = txn
    txns = dict(prev.get("txns", {}))
    txns[app_id] = max(int(batch_id), int(txns.get(app_id, -(2 ** 63))))
    return {"txns": txns}


def _spilled_entries(root: str, spill: dict) -> list[dict]:
    # spill files are immutable once a manifest references them, so the
    # stat-keyed parse cache turns every later history walk's read into
    # a dict lookup — read-only, like every other consumer of the cached
    # documents
    from dataintegration_ecomprovider_spark.plans.commit_protocol import (
        _cached_json_doc,
    )

    doc = _cached_json_doc(os.path.join(root, HISTORY_DIR, spill["file"]))
    if doc is None:
        raise FileNotFoundError(
            os.path.join(root, HISTORY_DIR, spill["file"])
        )
    return doc["entries"]


def _all_history(root: str, manifest: dict) -> list[dict]:
    """Every historical version snapshot, oldest first — spilled
    checkpoints then the inline tail.  O(total history); version lookups
    should use _history_entry, which touches at most one spill file."""
    out: list[dict] = []
    for sp in manifest.get("history_spills", []):
        out.extend(_spilled_entries(root, sp))
    out.extend(manifest.get("history", []))
    return out


def _history_entry(root: str, manifest: dict, version: int) -> dict | None:
    """One historical version's snapshot, reading at most the single spill
    file whose [from, to] range covers it."""
    for h in manifest.get("history", []):
        if h["version"] == version:
            return h
    for sp in manifest.get("history_spills", []):
        if sp["from"] <= version <= sp["to"]:
            for h in _spilled_entries(root, sp):
                if h["version"] == version:
                    return h
    return None


def tables_at(root: str, version: int) -> dict:
    """The manifest table map as of a committed version (current or
    history) — pure metadata, no SparkSession, so executor-side readers
    (streaming/store_source.py) can resolve version paths too."""
    manifest = current_manifest(root)
    if manifest["version"] == version:
        return manifest["tables"]
    entry = _history_entry(root, manifest, version)
    if entry is None:
        raise KeyError(f"version {version} not in history under {root}")
    return entry["tables"]


def read_table_at(spark: SparkSession, root: str, name: str, version: int) -> DataFrame:
    """Time travel: read `name` as of a committed version (in THAT
    version's logical schema — a later rename/drop doesn't rewrite
    history)."""
    tables = tables_at(root, version)
    if name not in tables:
        raise KeyError(f"table {name!r} absent at version {version}")
    return _logical_view(tables[name], _read_entry(spark, tables[name]))


def rollback(root: str, version: int) -> dict:
    """Re-commit an older version's table map as a NEW version (the data
    dirs are immutable, so rollback is another manifest swap), serialized
    against concurrent publishers by the commit lock."""
    with _manifest_lock(root):
        manifest = current_manifest(root)
        match = _history_entry(root, manifest, version)
        if match is None:
            raise KeyError(f"version {version} not in history under {root}")
        txid = f"rollback-{version}-{uuid.uuid4().hex[:8]}"
        new = {
            "version": manifest["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "committed_at_unix": time.time(),
            "tables": match["tables"],
            **_history_fields(root, manifest),
        }
        return _commit(root, txid, new, based_on=manifest["version"])


READERS_FILE = "_READERS.json"
READER_DEFAULT_TTL = 7 * 24 * 3600.0


def _read_readers(root: str) -> dict:
    try:
        doc = protocol_for(root).read_aux(root, READERS_FILE)
    except (OSError, ValueError):
        return {}
    # copy: register/unregister mutate the map, and the protocol may
    # have served this read from its stat-keyed parse cache
    return dict((doc or {}).get("readers", {}))


def _write_readers(root: str, readers: dict) -> None:
    protocol_for(root).write_aux(root, READERS_FILE, {"readers": readers})


def register_reader(
    root: str,
    name: str,
    version: int,
    ttl_seconds: float = READER_DEFAULT_TTL,
) -> dict:
    """Record (or renew) a named consumer's minimum-retained-version
    floor: vacuum will not prune version `version` or anything newer
    while the lease is unexpired.  The store_changes streaming source
    renews this at every epoch commit (`.option("reader", name)`) —
    its NEXT offset is a store version, and a vacuum pruning past it
    would kill the stream unrecoverably at restart; any external
    incremental consumer (replicate_table schedulers, foreachBatch
    loops) can hold a floor the same way.  Leases expire after
    `ttl_seconds` (Delta-style operational guard: a consumer that died
    without unregistering stops pinning history after the TTL).

    Returns the recorded lease {"version", "expires_at_unix"}."""
    if version < 0:
        raise ValueError("reader floor version must be >= 0")
    lease = {
        "version": int(version),
        "expires_at_unix": time.time() + float(ttl_seconds),
        # renewal stamp: lets store_usage/maintain_store report lease age
        # and tell a renewing-but-stalled consumer (alarm) from a dead
        # one (TTL expiry)
        "renewed_at_unix": time.time(),
    }
    with _manifest_lock(root):
        readers = _read_readers(root)
        readers[name] = lease
        _write_readers(root, readers)
    return lease


def unregister_reader(root: str, name: str) -> bool:
    """Drop a consumer's retention floor (call when the stream/consumer
    is decommissioned).  Returns True when a lease existed."""
    with _manifest_lock(root):
        readers = _read_readers(root)
        existed = readers.pop(name, None) is not None
        if existed:
            _write_readers(root, readers)
    return existed


def active_reader_floors(root: str, now: float | None = None) -> dict:
    """{name: lease} for every unexpired reader lease."""
    now = time.time() if now is None else now
    return {
        name: lease
        for name, lease in _read_readers(root).items()
        if lease.get("expires_at_unix", 0) > now
    }


def vacuum(
    spark: SparkSession,
    root: str,
    keep_versions: int = 2,
    keep_seconds: float | None = None,
) -> dict:
    """Prune history: keep the current version plus the newest
    `keep_versions - 1` historical versions; delete data directories (and
    drop bucketed-table catalog entries) referenced ONLY by pruned
    versions.  Time travel/rollback remain available within the kept
    window.  At 100 TB this is the storage-reclamation step a versioned
    store needs — the same role as Delta VACUUM; like there, an
    INTERACTIVE reader pinned to a pruned version loses it, so
    keep_versions is an operational retention policy, not a correctness
    knob.  Named consumers whose next read depends on a version
    surviving — a store_changes stream's checkpointed offset IS a store
    version — hold a retention floor via register_reader(): every
    version at or above the lowest unexpired floor is kept regardless
    of keep_versions (expired leases are ignored and garbage-collected
    here).

    `keep_seconds` adds TIME-based retention (Delta's
    `RETAIN <n> HOURS` / deletedFileRetentionDuration role): any version
    committed within the last `keep_seconds` survives regardless of
    count, because operational SLAs ("time travel must reach back 7
    days") are stated in time while count-based retention silently
    shrinks the window whenever commit frequency spikes — a streaming
    sink committing per minute turns keep_versions=48 from two days into
    under an hour.  The two knobs compose: a version is pruned only when
    it is BOTH beyond the count window AND older than the time window.

    Returns {"removed_versions": [...], "removed_paths": [...],
    "reader_floors": {name: version} (the active floors honored)}.
    """
    import shutil

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")

    # The prune decision and its manifest commit form one critical section
    # (a publish landing in between would chain off the un-pruned
    # manifest and resurrect history).  Deletion happens OUTSIDE the lock
    # — the pruned dirs are unreferenced the instant the commit lands.
    with _manifest_lock(root):
        manifest = current_manifest(root)
        history = _all_history(root, manifest)  # spilled + inline, oldest first
        cut = len(history) - (keep_versions - 1) if keep_versions > 1 else len(history)
        # reader leases: nothing at or above the lowest active floor is
        # pruned; expired leases drop out of the file while we hold the lock
        readers = _read_readers(root)
        now = time.time()
        active = {
            name: lease for name, lease in readers.items()
            if lease.get("expires_at_unix", 0) > now
        }
        if active != readers:
            _write_readers(root, active)
        floors = {name: lease["version"] for name, lease in active.items()}
        if floors:
            floor = min(floors.values())
            cut = min(
                cut,
                next(
                    (i for i, h in enumerate(history) if h["version"] >= floor),
                    len(history),
                ),
            )
        if keep_seconds is not None:
            # time window: the first version still inside it (and
            # everything newer) survives; versions missing a commit
            # stamp (pre-stamp stores) are conservatively KEPT
            horizon = now - keep_seconds
            cut = min(
                cut,
                next(
                    (
                        i for i, h in enumerate(history)
                        if h.get("committed_at_unix") is None
                        or h["committed_at_unix"] >= horizon
                    ),
                    len(history),
                ),
            )
        cut = max(cut, 0)
        keep_hist = history[cut:]
        pruned = history[:cut]
        if not pruned:
            return {
                "removed_versions": [], "removed_paths": [],
                "reader_floors": floors,
            }

        def paths_of(tables: dict) -> set[str]:
            out = set()
            for entry in tables.values():
                out.update(_entry_paths(entry))
            return out

        live: set[str] = paths_of(manifest["tables"])
        for h in keep_hist:
            live |= paths_of(h["tables"])

        # Commit the pruned manifest FIRST, then delete data.  A crash
        # between the two steps leaves orphaned-but-unreferenced
        # directories (harmless, re-collectable by collect_orphans); the
        # reverse order would leave a manifest still referencing versions
        # whose data is gone, breaking read_table_at's KeyError contract
        # with a raw parquet error.
        # the kept tail re-inlines (later commits re-spill past the cap);
        # every spill checkpoint is superseded by this commit
        new_manifest = dict(manifest)
        new_manifest["history"] = keep_hist
        new_manifest.pop("history_spills", None)
        _commit(root, manifest.get("txid") or "vacuum", new_manifest,
                based_on=manifest["version"])

    # post-commit cleanup: the superseded checkpoint files, plus any
    # unreferenced _history residue (a spill written by a commit that
    # then failed its manifest swap — harmless but permanent otherwise).
    # Under the lock: spill files are always written inside a commit's
    # critical section, so a locked sweep cannot delete a file an
    # in-flight commit is about to reference.
    hist_dir = os.path.join(root, HISTORY_DIR)
    if os.path.isdir(hist_dir):
        with _manifest_lock(root):
            referenced = {
                sp["file"]
                for sp in current_manifest(root).get("history_spills", [])
            }
            for fname in os.listdir(hist_dir):
                if fname in referenced:
                    continue
                try:
                    os.remove(os.path.join(hist_dir, fname))
                except OSError:
                    pass

    removed_paths: list[str] = []
    for h in pruned:
        for name, entry in h["tables"].items():
            for path in _entry_paths(entry):
                if path in live:
                    continue
                if (
                    isinstance(entry, dict)
                    and entry.get("table")
                    and path == entry["path"]
                ):
                    spark.sql(f"DROP TABLE IF EXISTS {entry['table']}")
                shutil.rmtree(path, ignore_errors=True)
                runtime.invalidate_path(path)
                removed_paths.append(path)
                live.add(path)  # don't double-remove across pruned versions
    return {
        "removed_versions": [h["version"] for h in pruned],
        "removed_paths": removed_paths,
        "reader_floors": floors,
    }


def collect_orphans(
    spark: SparkSession,
    root: str,
    min_age_seconds: float = 24 * 3600,
) -> dict:
    """Remove data directories under `<root>/data/` that NO committed
    version (current or history) references — the leftovers of a publish
    that crashed before its manifest swap, or of a vacuum that crashed
    after its manifest commit (vacuum deletes data only after committing
    the pruned manifest, so its crash residue is always unreferenced and
    safe to collect — see vacuum).

    `min_age_seconds` guards the race with an IN-FLIGHT publish: a staging
    directory being written right now is also unreferenced (its manifest
    swap hasn't happened yet), so only directories untouched for at least
    this long are collected (default 24 h — far beyond any publish's
    validate window; tests pass 0).  Mirrors Delta VACUUM's retention
    check for exactly this reason.

    Returns {"removed_paths": [...]}.
    """
    import shutil

    manifest = current_manifest(root)

    def paths_of(tables: dict) -> set[str]:
        return {
            os.path.normpath(p)
            for e in tables.values()
            for p in _entry_paths(e)
        }

    referenced = paths_of(manifest["tables"])
    for h in _all_history(root, manifest):
        referenced |= paths_of(h["tables"])

    data_root = os.path.join(root, "data")
    removed: list[str] = []
    now = time.time()
    if os.path.isdir(data_root):
        for txid in sorted(os.listdir(data_root)):
            txdir = os.path.join(data_root, txid)
            if not os.path.isdir(txdir):
                continue
            for table in sorted(os.listdir(txdir)):
                path = os.path.normpath(os.path.join(txdir, table))
                if path in referenced:
                    continue
                newest = max(
                    (os.path.getmtime(os.path.join(dp, f))
                     for dp, _dn, fs in os.walk(path) for f in fs),
                    default=os.path.getmtime(path),
                )
                if now - newest < min_age_seconds:
                    continue
                shutil.rmtree(path, ignore_errors=True)
                runtime.invalidate_path(path)
                removed.append(path)
            if not os.listdir(txdir):
                os.rmdir(txdir)

    # superseded sidecar checkpoints INSIDE referenced version dirs: a
    # stats/bloom rebuild flips the sidecar JSON to a new _stats-*/
    # _bloom-* dir and leaves the old one for this sweep (deleting at
    # rebuild time could yank a checkpoint from under a reader that had
    # already loaded the old JSON).  Same age gate as data orphans.
    for path in sorted(referenced):
        removed.extend(
            _sweep_sidecar_checkpoints(path, min_age_seconds, now=now)
        )
    return {"removed_paths": removed}


def _sweep_sidecar_checkpoints(
    path: str, min_age_seconds: float, now: float | None = None
) -> list[str]:
    """Delete _stats-*/_bloom-* checkpoint dirs under one version dir that
    the CURRENT sidecar JSONs no longer reference and that are older than
    `min_age_seconds`.  Runs regardless of the current sidecar's format
    (an inline _STATS.json after a compact still sheds its previous
    parquet checkpoint)."""
    import shutil

    if not os.path.isdir(path):
        return []
    now = time.time() if now is None else now
    live: set[str] = set()
    for fname in (STATS_FILE, BLOOM_FILE):
        try:
            with open(os.path.join(path, fname), encoding="utf-8") as fh:
                d = json.load(fh).get("dir")
            if d:
                live.add(d)
        except (OSError, ValueError):
            continue
    removed: list[str] = []
    for d in os.listdir(path):
        if not (d.startswith("_stats-") or d.startswith("_bloom-")) or d in live:
            continue
        full = os.path.join(path, d)
        if not os.path.isdir(full):
            continue
        newest = max(
            (os.path.getmtime(os.path.join(dp, f))
             for dp, _dn, fs in os.walk(full) for f in fs),
            default=os.path.getmtime(full),
        )
        if now - newest < min_age_seconds:
            continue
        shutil.rmtree(full, ignore_errors=True)
        runtime.invalidate_path(full)
        removed.append(full)
    return removed


def merge_into(
    spark: SparkSession,
    root: str,
    name: str,
    staging: DataFrame,
    keys: Sequence[str] | None = None,
    insert_new: bool = True,
    update_existing: bool = True,
    bucketed: bool = False,
    num_buckets: int = 32,
    evolve_schema: bool = False,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Incremental MERGE against the published store: read the current
    committed version, apply the U1-U3 upsert, publish the new state as the
    next version.  One call = one reference job run; crash-safe because the
    publish is all-or-nothing.

    `txn=(app_id, batch_id)` makes the merge idempotent per application
    (see publish_tables): a replayed batch skips before even reading the
    destination — for a copy-on-write merge that saves the WHOLE
    table rewrite, not just a duplicate version.

    `bucketed=True` keeps the destination bucketed on `keys` across
    versions: each merge reads a bucketed dest (its join side needs no
    Exchange) and republishes bucketed, so repeated incremental loads —
    the reference's re-run-the-job idempotent feed — never re-shuffle the
    accumulated destination, only the (small) incoming staging.

    `evolve_schema=True` lets a batch carrying NEW columns widen the
    table (merge.upsert mergeSchema semantics); because versions are
    immutable, old versions keep the narrow schema and read_changes
    reports the widening as updates on the touched rows.

    Concurrency: the merge is a read-modify-write, so it publishes with
    compare-and-swap on the version it read and RETRIES from a fresh read
    if another writer committed in between — two concurrent merge_into
    calls against one table serialize instead of losing one's updates."""
    from dataintegration_ecomprovider_spark.operators import merge as merge_ops

    if keys is None:
        keys = table_keys(root, name)
        if not keys:
            raise ValueError(
                f"table {name!r} has no recorded keys — pass keys= or "
                "publish with publish_tables(table_keys=...)"
            )
    pre = current_manifest(root)
    if _txn_gate(pre, txn):
        # replayed batch: skip BEFORE the quarantine routing too — its
        # diversion commits its own version, so gating only the main
        # merge would still land duplicate quarantine rows + CDC events
        # on replay (merge_into_mor gates before staging for the same
        # reason)
        return {**pre, "txn_skipped": True}
    prev_entry = pre["tables"].get(name)
    if (
        isinstance(prev_entry, dict)
        and prev_entry.get("on_violation") == "quarantine"
        and prev_entry.get("constraints")
    ):
        # S7 row-skipping on the COPY-ON-WRITE path too: the staging rows
        # ARE the row provenance, so split them exactly like merge_into_mor
        # does — violators divert to <name>__quarantine, clean rows merge,
        # the feed keeps flowing.  The CoW path runs in LOGICAL column
        # space throughout (read_table → upsert → publish resets any map),
        # and so do the stored constraint specs, so no translation is
        # needed.  Specs referencing columns the staging doesn't carry
        # fall through to the publish-time full-state validation (a row
        # that doesn't set a column can't newly violate it); table-level
        # checks (unique / row_count) likewise stay publish-time.
        row_local = [
            s for s in prev_entry["constraints"]
            if s[0] in _ROW_LOCAL_CONSTRAINTS
            and set(_constraint_columns(s)) <= set(staging.columns)
        ]
        if row_local:
            cond = _constraint_condition(row_local)
            bad = staging.filter(
                ~F.coalesce(cond, F.lit(False))
            ).withColumn("__violations", _violation_labels(row_local))
            if bad.limit(1).count():
                qname = f"{name}__quarantine"
                if qname in current_manifest(root)["tables"]:
                    merge_into_mor(
                        spark, root, qname, bad, keys=list(keys),
                        evolve_schema=True,
                    )
                else:
                    publish_tables(
                        spark, {qname: bad}, root,
                        table_keys={qname: list(keys)},
                    )
                staging = staging.filter(cond)
    last_err: ConcurrentPublishError | None = None
    for _attempt in range(COMMIT_RETRIES):
        base = current_manifest(root)
        if _txn_gate(base, txn):
            # replayed batch: skip before the O(|table|) read-merge-write
            return {**base, "txn_skipped": True}
        base_version = base["version"]
        dest = read_table(spark, root, name)
        new_state = merge_ops.upsert(
            dest, staging, list(keys),
            insert_new=insert_new, update_existing=update_existing,
            evolve_schema=evolve_schema,
        )
        try:
            return publish_tables(
                spark, {name: new_state}, root,
                bucket_keys={name: list(keys)} if bucketed else None,
                num_buckets=num_buckets,
                table_keys={name: list(keys)},
                expected_version=base_version,
                txn=txn,
            )
        except ConcurrentPublishError as e:
            last_err = e  # rebuild against the advanced version and retry
    raise last_err


def merge_into_mor(
    spark: SparkSession,
    root: str,
    name: str,
    staging: DataFrame,
    keys: Sequence[str] | None = None,
    deletes: DataFrame | None = None,
    insert_new: bool = True,
    update_existing: bool = True,
    evolve_schema: bool = False,
    txn: tuple[str, int] | None = None,
    partial_update: bool = False,
) -> dict:
    """Merge-on-read MERGE: commit the U1-U3 upsert (plus optional U4
    delete-incoming) as an appended DELTA file instead of rewriting the
    table — the write costs O(|staging|), never O(|table|).

    `txn=(app_id, batch_id)` makes the commit idempotent per application
    (see publish_tables): a replayed batch appends NOTHING — no duplicate
    delta file, no new version — so CDC consumers downstream of this
    table see each batch's changes exactly once even across foreachBatch
    checkpoint replays.  Without it a replay appends an identical delta:
    harmless to last-wins reconstruction, but a duplicate event for the
    change feed and a wasted version.

    ``merge_into`` is copy-on-write: every call re-reads and re-writes the
    full destination, so a 100 TB table fed hourly pays 100 TB of write
    amplification per feed.  Here each call stages only the incoming rows
    (tagged upsert/delete) to ``<root>/data/<txid>/<name>_delta/`` and the
    commit appends that file to the manifest entry's ``deltas`` list as a
    NEW version — Hudi's MERGE_ON_READ / Delta's deletion-vector trade.
    Readers reconstruct current state lazily (see _apply_deltas: the base
    is touched by one broadcast anti-join, only delta rows shuffle); a
    periodic ``compact()`` folds accumulated deltas back into a clean base
    (compact reads through _apply_deltas and republishes, so the folded
    entry naturally carries no deltas).

    `deletes` rows (key columns; extra columns ignored) commit delete
    markers.  `insert_new=False` / `update_existing=False` restrict the
    staging rows against the CURRENT reconstructed key set (one
    broadcast-staging semi/anti join — O(base scan), no base shuffle);
    the default full-upsert path never reads the base at all.

    Schema evolution: `evolve_schema=True` widens the table IN PLACE when
    staging carries new columns — the widened schema is recorded on the
    manifest entry, the base is never rewritten (readers null-fill the
    new columns on pre-evolution rows), and compact() folds everything to
    the new schema.  LOSSLESS TYPE WIDENINGS ride the same metadata
    path: staging an int column as long (or float→double, decimal
    precision growth — _TYPE_WIDENINGS) records the widened type in
    schema_json; readers cast the narrow base and pre-widening deltas up
    at reconstruction, the CDC fast path diffs in the widened type, and
    compact materializes it.  Lossy type changes still need the CoW
    `merge_into(evolve_schema=True)`.  Unsupported here (use merge_into):
    case-insensitive keys.  `staging` must be key-unique (the standard
    MERGE precondition —
    Delta likewise rejects multi-matches); a key in both `staging` and
    `deletes` deletes (delete-wins, enforced at write time).  Time travel,
    CDC reads, vacuum, replication and compaction all work unchanged —
    versions are immutable, each commit's entry just carries a longer
    delta list.

    PARTIAL-COLUMN updates (Hudi's partial-update / Delta's
    UPDATE-SET-subset trade): `partial_update=True` takes a staging of
    (key columns + the columns the batch SETS) and commits a delta that
    overlays ONLY those columns onto whatever each row's other columns
    hold at read time — the delta file is as narrow as the update, the
    base is never read OR rewritten, and a feature-store-style pipeline
    updating one column of a 500-column table writes 1/250th the bytes
    of a full-row upsert.  Set columns are recorded per delta file
    (``set_cols``), so an explicitly staged NULL is distinguishable from
    "not set".  Semantics: later wins PER COLUMN (a full-row upsert
    committed after a partial resets every column; a partial after it
    overlays its columns); partial rows never create rows (keys absent
    from the table — or deleted by a later delete marker — drop), so
    `partial_update=True` requires update_existing=True, insert_new=
    False, deletes=None, evolve_schema=False.  CDC across a partial span
    uses the generic two-version diff (the O(delta) fast path composes
    only full-row suffixes — detected and bypassed); compact folds
    partials away, restoring every fast path.  Row-local constraints are
    enforced for specs whose columns the batch sets (same
    can't-newly-violate contract as the CoW path's partial staging).

    Concurrency: the delta is staged outside the lock and appended to the
    LATEST entry under the commit lock, so concurrent writers serialize
    without retries (append order = commit order).  Returns the new
    manifest."""
    pre = current_manifest(root)
    if _txn_gate(pre, txn):
        # already applied — skip before staging anything (authoritative
        # re-check under the commit lock below)
        return {**pre, "txn_skipped": True}
    _t_publish = time.perf_counter()
    (
        delta_df, keys, base_schema, unknown, n_parts, set_cols,
    ) = _prepare_mor_delta(
        spark, root, pre, name, staging, keys, deletes,
        insert_new, update_existing, evolve_schema, partial_update,
    )
    txid = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
    staged = _write_mor_delta(
        root, txid, name, delta_df, keys, base_schema, bool(unknown),
        n_parts, set_cols,
    )

    with _manifest_lock(root):
        prev = current_manifest(root)
        if _txn_gate(prev, txn):
            shutil.rmtree(
                os.path.join(root, "data", txid), ignore_errors=True
            )
            return {**prev, "txn_skipped": True}
        manifest = {
            "version": prev["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "committed_at_unix": time.time(),
            "tables": {
                **prev["tables"],
                name: _append_mor_entry(prev, name, staged),
            },
            **_history_fields(root, prev),
            **_txn_fields(prev, txn),
            "commit_wall_ms": round(
                (time.perf_counter() - _t_publish) * 1000, 1
            ),
        }
        return _commit(root, txid, manifest, based_on=prev["version"])


def merge_many_mor(
    spark: SparkSession,
    root: str,
    merges: Mapping[str, Mapping],
    txn: tuple[str, int] | None = None,
) -> dict:
    """MULTI-TABLE atomic MERGE: apply a merge-on-read merge to several
    tables and commit them as ONE version — one manifest swap, so readers
    (and every snapshot/CDC consumer) see either all of the batch or none
    of it.  This is the write-side form of the store's cross-table
    guarantee: StoreSnapshot already gives consistent multi-table READS
    because the manifest versions all tables together; single-table log
    formats (Delta, Iceberg, Hudi) can do neither.  The reference's job
    transaction spans every destination table of a job for exactly this
    reason (a crashed half-applied orders/order-lines import is worse
    than none).

    ``merges[name]`` is a spec dict: {"staging": DataFrame, optional
    "deletes": DataFrame, "keys": [...], "insert_new": bool,
    "update_existing": bool, "evolve_schema": bool} — the merge_into_mor
    parameters per table; staging/constraint semantics are IDENTICAL by
    construction (shared implementation).  Quarantine routing still
    commits its diversions as separate versions immediately before the
    atomic one (same contract as merge_into_mor's crash note).

    Scale shape: all deltas stage OUTSIDE the lock (the expensive Spark
    work runs unserialized and concurrently, one job per table; each
    table's preparation — constraint checks, quarantine diversions —
    still runs in the caller's table order); the critical section
    appends N manifest entries — O(N) metadata.  `txn` covers the WHOLE
    batch: a replayed multi-table batch skips atomically too.  Returns
    the new manifest."""
    pre = current_manifest(root)
    if _txn_gate(pre, txn):
        return {**pre, "txn_skipped": True}
    if not merges:
        raise ValueError("merge_many_mor needs at least one table")
    prepared = {}
    for name, spec in merges.items():
        prepared[name] = _prepare_mor_delta(
            spark, root, pre, name,
            spec["staging"],
            spec.get("keys"),
            spec.get("deletes"),
            spec.get("insert_new", True),
            spec.get("update_existing", True),
            spec.get("evolve_schema", False),
            spec.get("partial_update", False),
        )
    _t_publish = time.perf_counter()
    txid = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"

    def _stage(item):
        name, (delta_df, keys, base_schema, unknown, n_parts, set_cols) = item
        return _write_mor_delta(
            root, txid, name, delta_df, keys, base_schema,
            bool(unknown), n_parts, set_cols,
        )

    # each delta is its own Spark write job into its own directory: stage
    # them concurrently, as publish_tables does
    staged = dict(zip(
        prepared, runtime.map_concurrently(_stage, prepared.items())
    ))
    with _manifest_lock(root):
        prev = current_manifest(root)
        if _txn_gate(prev, txn):
            shutil.rmtree(
                os.path.join(root, "data", txid), ignore_errors=True
            )
            return {**prev, "txn_skipped": True}
        tables = dict(prev["tables"])
        for name, st in staged.items():
            tables[name] = _append_mor_entry(prev, name, st)
        manifest = {
            "version": prev["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "committed_at_unix": time.time(),
            "tables": tables,
            **_history_fields(root, prev),
            **_txn_fields(prev, txn),
            "commit_wall_ms": round(
                (time.perf_counter() - _t_publish) * 1000, 1
            ),
        }
        return _commit(root, txid, manifest, based_on=prev["version"])


def _prepare_mor_delta(
    spark: SparkSession,
    root: str,
    pre: dict,
    name: str,
    staging: DataFrame,
    keys: Sequence[str] | None,
    deletes: DataFrame | None,
    insert_new: bool,
    update_existing: bool,
    evolve_schema: bool,
    partial_update: bool = False,
):
    """The staging half of a merge-on-read merge, factored out so
    merge_into_mor and merge_many_mor share one implementation: column-map
    translation, mode restriction, constraint evaluation (incl. the
    quarantine split, which commits its own version), delete-wins and
    schema conformance.  Returns (delta_df, keys, base_schema, unknown,
    n_parts, set_cols) ready for _write_mor_delta; runs entirely OUTSIDE
    the commit lock."""
    prev_entry = pre["tables"].get(name)
    if prev_entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    if partial_update:
        # partial deltas overlay columns onto EXISTING rows — the only
        # coherent mode (see merge_into_mor docstring)
        if insert_new or not update_existing:
            raise ValueError(
                "partial_update=True is update-only: pass "
                "insert_new=False, update_existing=True"
            )
        if deletes is not None:
            raise ValueError(
                "partial_update cannot combine with deletes — commit the "
                "delete markers as their own merge"
            )
        if evolve_schema:
            raise ValueError(
                "partial_update cannot evolve the schema (a new column on "
                "existing rows is a full-column write — use "
                "evolve_schema=True without partial_update)"
            )
        if (
            isinstance(prev_entry, dict)
            and prev_entry.get("on_violation") == "quarantine"
        ):
            # a quarantined PARTIAL row holds only its set columns, so
            # requeue_quarantine would re-merge it as a full row and
            # null out everything it never set — refuse up front rather
            # than corrupt on the drain path
            raise ValueError(
                f"table {name!r} is in quarantine mode "
                "(on_violation='quarantine'): partial_update rows cannot "
                "be quarantined losslessly — use full-row staging or "
                "abort-mode constraints"
            )
    if keys is None:
        keys = table_keys(root, name)
        if not keys:
            raise ValueError(
                f"table {name!r} has no recorded keys — pass keys= or "
                "publish with publish_tables(table_keys=...)"
            )
    keys = list(keys)
    logical_keys = list(keys)  # pre-translation names, for the quarantine
    logical_staged = set(staging.columns)  # pre-translation, for specs
    base_schema = _entry_read_schema(spark, prev_entry)
    base_cols = [f.name for f in base_schema.fields]
    _renames, _dropped = _column_map(prev_entry)
    if _renames or _dropped:
        # staging/deletes/keys arrive in LOGICAL names; the delta log is
        # written in the physical names the base files carry.  A staged
        # column reusing a DROPPED physical name is refused — the old
        # file bytes would bleed into the "new" column at read time.
        _l2p = {l: p for p, l in _renames.items()}
        reused = [
            c for c in staging.columns if _l2p.get(c, c) in _dropped
        ]
        if reused:
            raise ValueError(
                f"staging columns {reused} reuse dropped physical names of "
                f"table {name!r}; compact/rewrite the table before reusing"
            )
        logical_base = {_renames.get(c, c) for c in base_cols}
        shadowing = [
            c
            for c in staging.columns
            if c not in logical_base and _l2p.get(c, c) in base_cols
        ]
        if shadowing:
            # a NEW logical column whose name equals a renamed-away
            # physical column would silently write into the old storage
            raise ValueError(
                f"staging columns {shadowing} shadow physical columns of "
                f"table {name!r} that were renamed away; pick another name "
                "or rewrite the table first"
            )
        keys = [_l2p.get(k, k) for k in keys]
        staging = staging.select(
            *[F.col(c).alias(_l2p.get(c, c)) for c in staging.columns]
        )
        if deletes is not None:
            deletes = deletes.select(
                *[F.col(c).alias(_l2p.get(c, c)) for c in deletes.columns]
            )
        base_cols = [c for c in base_cols if c not in _dropped]
    missing = [k for k in keys if k not in staging.columns]
    if missing:
        raise ValueError(f"staging is missing key columns {missing}")
    unknown = [c for c in staging.columns if c not in base_cols]
    if unknown and not evolve_schema:
        # silently dropping a column the caller staged would corrupt the
        # feed invisibly
        raise ValueError(
            f"staging carries columns {unknown} not in table {name!r}; "
            "pass evolve_schema=True to widen the table in place"
        )
    widened: list[str] = []
    if evolve_schema:
        # metadata TYPE WIDENING: staging carrying a LOSSLESSLY
        # wider type for an existing column (int→long, float→double,
        # decimal precision growth) widens the recorded logical schema in
        # place — readers cast the narrow base/early deltas up at
        # reconstruction (_conform_to_schema / union coercion), compact
        # materializes the wide type, and the CDC fast path diffs in the
        # to-version schema.  At 100 TB this is exactly the rewrite MoR
        # exists to avoid; Delta/Iceberg treat widening as metadata too.
        # A NON-widening type change conforms to the base type
        # (cast-down): only a lossless widening may change the schema.
        from pyspark.sql.types import StructField, StructType

        staged_types = {f.name: f.dataType for f in staging.schema.fields}
        new_fields = []
        for f in base_schema.fields:
            st = staged_types.get(f.name)
            if st is not None and _is_type_widening(f.dataType, st):
                new_fields.append(StructField(f.name, st, True))
                widened.append(f.name)
            else:
                new_fields.append(f)
        if widened:
            base_schema = StructType(new_fields)
    if unknown:
        # widen the LOGICAL schema in place: the new columns are recorded
        # on the manifest entry (schema_json) and materialize at read time
        # as typed nulls on the un-rewritten base — O(1) metadata, where a
        # CoW merge_into(evolve_schema=True) pays an O(table) rewrite on
        # exactly the table class MoR was bought for.  New columns plus
        # lossless type widenings (above); anything else still requires
        # the CoW path.
        from pyspark.sql.types import StructField, StructType

        staged_fields = {f.name: f for f in staging.schema.fields}
        base_schema = StructType(
            list(base_schema.fields)
            + [
                StructField(c, staged_fields[c].dataType, True)
                for c in unknown
            ]
        )
        base_cols = [f.name for f in base_schema.fields]

    set_cols: list[str] | None = None
    eval_schema = base_schema
    if partial_update:
        set_cols = [
            c for c in base_cols if c in staging.columns and c not in keys
        ]
        if not set_cols:
            raise ValueError(
                "partial_update staging must set at least one non-key "
                f"column of {name!r}"
            )
        from pyspark.sql.types import StructType

        # the delta carries ONLY keys + set columns (that narrowness IS
        # the feature); constraints and conformance evaluate against it
        eval_schema = StructType([
            f for f in base_schema.fields
            if f.name in keys or f.name in set_cols
        ])

    cons = (
        prev_entry.get("constraints") if isinstance(prev_entry, dict) else None
    ) or []
    row_local = [s for s in cons if s[0] in _ROW_LOCAL_CONSTRAINTS]
    if partial_update:
        # only specs fully covered by the staged columns are evaluable on
        # partial rows (unset columns keep their base values — the same
        # can't-newly-violate contract the CoW path applies to partial
        # stagings)
        row_local = [
            s for s in row_local
            if set(_constraint_columns(s)) <= logical_staged
        ]
    quarantined = None
    if row_local:
        pcons = _phys_constraints(prev_entry, row_local)
        conformed = _conform_to_schema(staging, eval_schema)
        if (
            isinstance(prev_entry, dict)
            and prev_entry.get("on_violation") == "quarantine"
        ):
            # S7 row-skipping at the store level: divert violating rows
            # to <name>__quarantine (tagged with the failed specs) and
            # merge only the clean ones — the feed keeps flowing.  Both
            # splits evaluate on the CONFORMED frame (absent columns DO
            # replace values with null at read time).
            clean_cond = _constraint_condition(pcons)
            bad = conformed.filter(
                ~F.coalesce(clean_cond, F.lit(False))
            ).withColumn("__violations", _violation_labels(pcons, row_local))
            if bad.limit(1).count():
                quarantined = bad
            staging = conformed.filter(clean_cond)
        else:
            # validate the CONFORMED upsert rows — O(staging), never the
            # table; table-level checks (unique/row_count) run on the
            # copy-on-write paths that stage full state
            try:
                _constraint_validator(pcons)(conformed)
            except ValidationError as e:
                raise ValidationError(
                    f"{name}: persisted constraint violated by merge "
                    f"staging: {e}"
                ) from e
    if quarantined is not None:
        qname = f"{name}__quarantine"
        # present quarantined rows under LOGICAL names — the schema the
        # caller declared constraints in — not the base's physical file
        # names (a no-op when the table carries no rename map)
        quarantined = _logical_view(prev_entry, quarantined)
        if qname in current_manifest(root)["tables"]:
            # evolve: the main merge may be widening the schema this very
            # call while the existing quarantine table is still narrow;
            # hard-failing here would abort the feed the quarantine mode
            # exists to keep flowing
            merge_into_mor(
                spark, root, qname, quarantined, keys=logical_keys,
                evolve_schema=True,
            )
        else:
            publish_tables(
                spark, {qname: quarantined}, root,
                table_keys={qname: list(logical_keys)},
            )


    if partial_update:
        # no base read at all: missing keys simply find nothing to
        # overlay at reconstruction — the write stays O(|staging|) in
        # BOTH rows and columns
        delta_df = _conform_to_schema(staging, eval_schema).withColumn(
            MOR_CHANGE_COL, F.lit("partial")
        )
        return (
            delta_df, keys, base_schema, unknown + widened, ["partial"],
            set_cols,
        )

    if not (insert_new and update_existing):
        # physical space: keys and staging were translated above
        existing = _read_entry(spark, prev_entry).select(*keys)
        how = "left_semi" if not insert_new else "left_anti"
        staging = staging.join(existing, on=keys, how=how)

    # deltas must carry the base schema exactly (readers union them with
    # the base); absent columns ride as typed nulls
    def _conform(df: DataFrame, change: str) -> DataFrame:
        return _conform_to_schema(df, base_schema).withColumn(
            MOR_CHANGE_COL, F.lit(change)
        )

    n_parts = ["upsert"]
    if deletes is not None:
        dmissing = [k for k in keys if k not in deletes.columns]
        if dmissing:
            raise ValueError(f"deletes is missing key columns {dmissing}")
        # a key both upserted and deleted in ONE call would tie in the
        # reader's last-wins window — define delete-wins deterministically
        staging = staging.join(
            deletes.select(*keys).distinct(), on=keys, how="left_anti"
        )
        delta_df = _conform(staging, "upsert").unionByName(
            _conform(deletes.select(*keys), "delete")
        )
        n_parts.append("delete")
    else:
        delta_df = _conform(staging, "upsert")

    return delta_df, keys, base_schema, unknown + widened, n_parts, None


def _write_mor_delta(
    root: str,
    txid: str,
    name: str,
    delta_df: DataFrame,
    keys: Sequence[str],
    base_schema,
    widen: bool,
    kinds: list,
    set_cols: Sequence[str] | None = None,
) -> dict:
    """Write one staged MoR delta under data/<txid>/ and return the
    commit-time payload _append_mor_entry consumes."""
    delta_path = os.path.join(root, "data", txid, f"{name}_delta")
    delta_df.write.mode("errorifexists").parquet(delta_path)
    summary = write_stats_sidecar(delta_path)
    return {
        "delta_path": delta_path,
        "summary": summary,
        "keys": list(keys),
        "schema_json": json.dumps(base_schema.jsonValue()),
        "widen": widen,
        "txid": txid,
        "kinds": list(kinds),
        "set_cols": list(set_cols) if set_cols is not None else None,
    }


def _append_mor_entry(prev: dict, name: str, staged: dict) -> dict:
    """Build table `name`'s NEW manifest entry with `staged`'s delta
    appended — runs UNDER the commit lock, chaining off whatever entry is
    latest (concurrent writers' deltas and schema widenings merge)."""
    if name not in prev["tables"]:
        raise KeyError(f"table {name!r} vanished from the store")
    entry = prev["tables"][name]
    entry = {"path": entry} if isinstance(entry, str) else dict(entry)
    entry["keys"] = entry.get("keys") or staged["keys"]
    if staged["widen"] or entry.get("schema_json"):
        # record the widened logical schema, merged UNDER the lock with
        # whatever a concurrent writer may have evolved — column sets
        # union, and a field both sides carry takes the WIDER type
        # (lossless widenings compose; two concurrent int→long widenings
        # merge idempotently); readers null-fill/cast-up whichever
        # columns any given delta file predates
        from pyspark.sql.types import StructType

        fields, index = [], {}
        if entry.get("schema_json"):
            for f in StructType.fromJson(
                json.loads(entry["schema_json"])
            ).fields:
                index[f.name] = len(fields)
                fields.append(f)
        for f in StructType.fromJson(json.loads(staged["schema_json"])).fields:
            i = index.get(f.name)
            if i is None:
                index[f.name] = len(fields)
                fields.append(f)
            elif _is_type_widening(fields[i].dataType, f.dataType):
                fields[i] = f
        entry["schema_json"] = json.dumps(StructType(fields).jsonValue())
    summary = staged["summary"]
    entry["deltas"] = list(entry.get("deltas", [])) + [
        {
            "path": staged["delta_path"],
            "rows": summary["rows"],
            "bytes": summary["bytes"],
            "num_files": summary["num_files"],
            "txid": staged["txid"],
            "kinds": staged["kinds"],
            **(
                {"set_cols": staged["set_cols"]}
                if staged.get("set_cols") is not None else {}
            ),
        }
    ]
    return entry



def read_changes(
    spark: SparkSession,
    root: str,
    name: str,
    from_version: int,
    to_version: int | None = None,
    keys: Sequence[str] | None = None,
    case_insensitive: bool = False,
    change_col: str = "change_type",
    include_old: bool = False,
    where: Sequence[tuple] = (),
) -> DataFrame:
    """Version-diff (CDC) read: the rows that changed between two committed
    versions of `name`, tagged ``insert`` / ``update`` / ``delete``.

    This is the feed every downstream incremental consumer wants: instead
    of re-reading the full table per version (the reference's incremental
    model is "re-run the job idempotently", IsFirstJobRun,
    /root/reference/src/EcomProvider.cs:25, :937-966), a versioned store
    can answer "what changed" exactly — a key-wise full-outer join of the
    two versions:

    - key only in `to_version`  → ``insert`` (the new row),
    - key only in `from_version` → ``delete`` (the old row),
    - key in both with any non-key column differing (null-safe) →
      ``update`` (the new row); unchanged rows are dropped.

    `keys` identify rows across versions; `case_insensitive=True` matches
    string keys through the same ci() normalization the merge family uses
    (operators/merge._k), so a key that merely changed casing diffs as an
    update, not a delete+insert.

    Scale shape: one shuffle per side on the key columns — the minimal
    cost of a full key-wise diff — and Catalyst prunes the comparison to
    the columns actually selected downstream.  Columns are taken from the
    NEW version's schema; a column absent from the old version compares as
    null — after a schema widening, rows appear as updates exactly where
    the new column holds a non-null value.

    `where` (scan_table's predicate algebra) scopes the diff to the
    FILTERED VIEW of the table: both versions read through file-level
    data skipping (scan_table_at), so CDC on a selective slice — one
    shop, one key range, one language — prunes both snapshot scans
    instead of reconstructing 100 TB twice.  Semantics are
    diff(σ(old), σ(new)): a row UPDATED INTO the predicate set arrives
    as an insert and one updated out of it as a delete — exactly what a
    consumer maintaining the filtered view wants to apply.
    """
    if keys is None:
        keys = table_keys(root, name)
    if not keys:
        raise ValueError("read_changes requires the table's key columns")
    if to_version is None:
        to_version = current_manifest(root)["version"]
    if not case_insensitive:
        fast = _mor_changes_fast(
            spark, root, name, from_version, to_version, list(keys),
            change_col, include_old, where,
        )
        if fast is not None:
            return fast
    # the diff compares LOGICAL states in the TO-version's naming.  The
    # sides align per column by the strongest identity available:
    # PHYSICAL names are immutable within a base lineage, so a from-side
    # physical column still present in the to-version's physical schema
    # maps through the TO-entry's renames (a rename mid-span emits zero
    # row changes, not a whole-table update storm); a column the
    # to-schema no longer carries physically (the lineage broke — e.g.
    # compact(materialize_mapping=True) folded the map into fresh files)
    # falls back to its OWN version's logical name, which a
    # materialization preserves.  Columns the to-version DROPPED are
    # excluded before comparing — churn confined to them is not a change.
    to_entry = tables_at(root, to_version).get(name)
    if to_entry is None:
        raise KeyError(f"table {name!r} absent at version {to_version}")
    from_tables = tables_at(root, from_version)
    if name not in from_tables:
        raise KeyError(f"table {name!r} absent at version {from_version}")
    from_entry = from_tables[name]
    to_renames, to_dropped = _column_map(to_entry)
    from_renames, from_dropped = _column_map(from_entry)
    to_physical = {
        f.name for f in _read_entry(spark, to_entry).schema.fields
    }
    from_physical = {
        f.name for f in _read_entry(spark, from_entry).schema.fields
    }

    def _from_side_name(logical: str) -> str:
        # the physical column holding `logical` at the FROM version
        p_to = _phys_name(to_entry, logical)
        if p_to in from_physical:
            return p_to  # shared lineage
        return _phys_name(from_entry, logical)

    if where:
        pwhere_to = _phys_where(to_entry, where)
        pwhere_from = [
            _rewrite_where_cols(n, _from_side_name) for n in where
        ]
        old = _scan_version_conformed(
            spark, root, name, from_version, pwhere_from
        )
        new = _scan_entry(spark, to_entry, pwhere_to)
    else:
        old = _read_entry(spark, from_entry)
        new = _read_entry(spark, to_entry)
    # present both sides in the TO version's LOGICAL naming
    new = _logical_view(to_entry, new)
    old_cols = []
    for c in old.columns:
        if c in from_dropped:
            continue  # invisible before the span started
        if c in to_physical:  # shared lineage
            if c in to_dropped:
                continue
            old_cols.append(F.col(c).alias(to_renames.get(c, c)))
        else:  # lineage broke: logical identity carries across
            old_cols.append(F.col(c).alias(from_renames.get(c, c)))
    old = old.select(*old_cols)
    return diff_frames(
        old, new, keys,
        case_insensitive=case_insensitive, change_col=change_col,
        include_old=include_old,
    )


def _mor_delta_suffix(from_entry, to_entry) -> list[dict] | None:
    """The delta files committed BETWEEN two versions of a merge-on-read
    table, or None when the versions aren't base-sharing log extensions
    of each other (different base path → a compact/rewrite happened in
    between; _bridged_delta_suffix composes across value-preserving
    rewrites, anything else falls back to the generic full diff)."""
    if not isinstance(to_entry, dict) or not to_entry.get("deltas"):
        return None
    if isinstance(from_entry, str):
        from_path, from_deltas = from_entry, []
    elif isinstance(from_entry, dict):
        from_path, from_deltas = from_entry["path"], from_entry.get("deltas", [])
    else:
        return None
    to_deltas = to_entry["deltas"]
    if from_path != to_entry["path"] or len(to_deltas) <= len(from_deltas):
        return None
    if [d["path"] for d in to_deltas[: len(from_deltas)]] != [
        d["path"] for d in from_deltas
    ]:
        return None
    suffix = to_deltas[len(from_deltas):]
    if any(_is_partial_delta(d) for d in suffix):
        # a partial suffix row is NOT the key's to-version state (unset
        # columns come from the base / earlier deltas) — the last-wins
        # composition doesn't hold; fall back to the generic two-version
        # diff, which reconstructs through the partial-aware reader.
        # Compact folds partials away and restores the fast path.
        return None
    return suffix


def _entry_signature(entry) -> tuple | None:
    """(base path, delta path tuple) — two entries with equal signatures
    reconstruct identical states (version dirs are immutable)."""
    if entry is None:
        return None
    if isinstance(entry, str):
        return (entry, ())
    return (entry["path"], tuple(d["path"] for d in entry.get("deltas", [])))


def _entry_last_changed_unix(root: str, name: str) -> float | None:
    """Commit time of the NEWEST version whose entry for `name` differs
    from its predecessor's — "how old is this table's current content"
    (maintain_store's age-gated quarantine requeue).  Walks the retained
    manifest history (bounded metadata, no Spark job); with history
    pruned past the change, the oldest retained snapshot bounds the
    answer from below.  None when the table is absent."""
    manifest = current_manifest(root)
    snaps = sorted(
        _all_history(root, manifest) + [manifest],
        key=lambda h: int(h["version"]),
    )
    changed_at: float | None = None
    prev_sig: tuple | None = None
    for h in snaps:
        sig = _entry_signature(h.get("tables", {}).get(name))
        if sig is not None and sig != prev_sig:
            changed_at = h.get("committed_at_unix")
        prev_sig = sig
    return changed_at


def _bridged_delta_suffix(
    root: str, name: str, from_version: int, to_version: int
) -> list[dict] | None:
    """Every delta file committed to `name` in (from_version, to_version],
    composed ACROSS value-preserving rewrites — or None when the span
    contains a step the composition cannot prove change-free.

    Walks the version chain one commit at a time; each step must be one
    of:

    - the table untouched (another table's publish bumped the version),
    - a base-sharing delta-log extension (merge_into_mor commits) —
      its suffix files join the composition,
    - a VALUE-PRESERVING rewrite: a fresh base whose ``rewrite_of``
      provenance points at the immediately preceding version
      (compact/recluster stamp it via publish_tables(rewrite_of=...)).
      state(v) == state(v-1), so the rewrite contributes zero changes;
      a rewrite whose provenance points FURTHER back means a concurrent
      writer committed between the rewrite's read and its commit (its
      changes were lost by the rewrite) — not change-free, so the walk
      aborts and the caller takes the honest full diff.

    An empty list is a positive answer: nothing in the span changed this
    table (pure rewrites / other tables' commits), so its CDC is empty —
    no scan needed at all.  The last change a key took anywhere in the
    composed suffix IS its to_version state (rewrites between preserve
    values; later deltas that don't touch the key don't either), which is
    what lets the O(delta) fast paths ride the composition unchanged.

    Why this matters at 100 TB: maintain_store compacts NIGHTLY, and
    without the bridge every store_changes stream, replicate_table
    follower and maintained view paid one O(2 × table) full diff per
    table per maintenance pass, forever.  Reference analog: the
    incremental re-run model (src/EcomProvider.cs:25, 937-966) — don't
    re-read the world to apply a day's changes.  Pure metadata (manifest +
    history walk, one spill file at most per step), callable from
    executor-side streaming readers."""
    try:
        prev = tables_at(root, from_version).get(name)
    except KeyError:
        return None
    if prev is None:
        return None
    suffix: list[dict] = []
    for v in range(from_version + 1, to_version + 1):
        try:
            cur = tables_at(root, v).get(name)
        except KeyError:
            return None
        if _entry_signature(cur) == _entry_signature(prev):
            prev = cur
            continue
        seg = _mor_delta_suffix(prev, cur)
        if seg is not None:
            suffix.extend(seg)
        elif (
            isinstance(cur, dict)
            and cur.get("rewrite_of") == v - 1
            and not cur.get("deltas")
        ):
            pass  # value-preserving rewrite: state(v) == state(v-1)
        else:
            return None
        prev = cur
    return suffix


def _mor_changes_fast(
    spark: SparkSession,
    root: str,
    name: str,
    from_version: int,
    to_version: int,
    keys: list[str],
    change_col: str,
    include_old: bool,
    where: Sequence[tuple] = (),
) -> DataFrame | None:
    """O(delta) CDC between two versions of a merge-on-read table.

    The generic read_changes reconstructs BOTH versions and full-outer
    diffs them — O(2 × table) scan + shuffle.  When the span from
    `from_version` to `to_version` is a chain of delta-log extensions
    and value-preserving rewrites (_bridged_delta_suffix), the changed
    keys are exactly the composed suffix deltas' keys, so the diff needs
    only:

    - the suffix delta rows (small), last-wins resolved — each key's
      LAST delta row in commit order is its to_version state, because
      the rewrites in between preserve values; and
    - the FROM-version state of just those keys (one base scan with a
      broadcast semi-join — no base shuffle, and file skipping applies).

    A span that changed nothing (pure compaction / other tables'
    publishes) short-circuits to an empty diff with no table scan at
    all.  diff_frames then classifies insert/update/delete and drops
    no-op re-upserts, byte-identically to the generic path (pinned in
    tests/test_mor.py).  This is the feed store_changes/replicate_table
    ride per micro-batch: at 100 TB each incremental sync costs the delta
    plus one pruned scan instead of two full reconstructions — including
    the sync that spans maintain_store's nightly compact."""
    try:
        from_entry = tables_at(root, from_version).get(name)
        to_entry = tables_at(root, to_version).get(name)
    except KeyError:
        return None
    if from_entry is None or to_entry is None:
        return None
    suffix = _bridged_delta_suffix(root, name, from_version, to_version)
    if suffix is None:
        return None
    if not suffix:
        # provably change-free span: an empty diff in the to-version's
        # LOGICAL schema, without scanning either version
        empty = _logical_view(to_entry, _read_entry(spark, to_entry)).limit(0)
        return diff_frames(
            empty, empty, keys,
            change_col=change_col, include_old=include_old,
        )
    # the suffix delta files, the from-version base and the sidecars all
    # carry PHYSICAL column names (immutable within a base lineage, and
    # remap commits extend neither the log nor the base — a span
    # containing one composes here unchanged); run the whole fast path
    # physically and map to the to-version's logical naming once, at the
    # end
    keys = [_phys_name(to_entry, k) for k in keys]
    where = _phys_where(to_entry, where) if where else ()
    deltas = _read_delta_log(spark, suffix)
    latest = _latest_per_key(deltas, keys)
    dkeys = deltas.select(*keys).distinct()
    if _deltas_bytes(suffix) <= MOR_BROADCAST_MAX_BYTES:
        dkeys = F.broadcast(dkeys)
    old_from = _read_entry(spark, from_entry)
    if where:
        missing = _where_columns(where) - set(old_from.columns)
        if missing:
            # predicate column postdates this version (schema evolution):
            # absent reads as null → comparisons match nothing
            for c in missing:
                old_from = old_from.withColumn(c, F.lit(None))
            old_from = old_from.filter(_where_condition(where))
        else:
            old_from = _scan_entry(spark, from_entry, where)  # pruned read
    old_scoped = old_from.join(dkeys, on=keys, how="left_semi")
    # diff in the TO-version's logical schema: it may have widened
    # mid-span, either still recorded as schema_json or already folded
    # into a rewritten base (no entry marker, physically wider parquet) —
    # _read_entry resolves both, and .schema never executes the plan.
    # Old rows null-fill the new columns exactly as the generic full
    # diff would see them.
    from pyspark.sql.types import StructType

    _, to_dropped = _column_map(to_entry)
    to_schema = StructType(
        [
            f
            for f in _read_entry(spark, to_entry).schema.fields
            if not f.name.startswith("__k_") and f.name not in to_dropped
        ]
    )
    # always conform: the old side may carry a NullType placeholder for a
    # predicate column it predates, or a narrower pre-evolution schema
    old_scoped = _conform_to_schema(old_scoped, to_schema)
    new_scoped = _conform_to_schema(
        latest.filter(F.col(MOR_CHANGE_COL) != "delete"), old_scoped.schema
    )
    if where:
        new_scoped = new_scoped.filter(_where_condition(where))
    return _logical_changes(
        to_entry,
        diff_frames(
            old_scoped, new_scoped, keys,
            change_col=change_col, include_old=include_old,
        ),
        change_col,
    )


def diff_frames(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    case_insensitive: bool = False,
    change_col: str = "change_type",
    include_old: bool = False,
) -> DataFrame:
    """The engine of read_changes as a pure two-DataFrame operator: the
    key-wise full-outer diff of `old` → `new` tagged insert/update/delete
    (semantics documented on read_changes).  Exposed separately so diffs
    compose outside the store — staging-vs-destination previews, test
    properties (tests/test_cdc.py hypothesis round-trip: applying the diff
    of A→B onto A reconstructs B for ARBITRARY frames), and cross-store
    comparisons.

    `include_old=True` appends `<col>__old` columns holding the FROM-side
    values (null on inserts; on deletes they equal the main columns) —
    what an incremental consumer needs to RETRACT old contributions, e.g.
    aggregate maintenance (plans/materialize.py) where an update both
    subtracts the old value and adds the new one."""
    from dataintegration_ecomprovider_spark.operators import merge as merge_ops

    keys = list(keys)
    cols = [c for c in new.columns if not c.startswith("__k_")]
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key columns {missing} not in the new frame")
    for c in cols:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None))
    old = old.select(cols)
    new = new.select(cols)

    old, norm = merge_ops._with_norm_keys(old, keys, case_insensitive)
    new, _ = merge_ops._with_norm_keys(new, keys, case_insensitive)
    data_cols = [c for c in cols if c not in keys]
    old = old.select(
        *norm,
        F.lit(True).alias("__old_present"),
        *[F.col(c).alias(f"__old_{c}") for c in cols],
    )
    new = new.select(*norm, F.lit(True).alias("__new_present"), *cols)

    joined = new.join(old, norm, "full_outer")
    differs = F.lit(False)
    for c in data_cols:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
    change = (
        F.when(F.col("__old_present").isNull(), F.lit("insert"))
        .when(F.col("__new_present").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    # delete rows surface the OLD version's values (the new side is all
    # null because the row is gone); insert/update rows are exactly the new
    # version's row — including genuine nulls, hence the presence marker
    # rather than a value coalesce
    out_cols = [
        F.when(F.col("__new_present").isNull(), F.col(f"__old_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in cols
    ]
    if include_old:
        out_cols += [
            F.when(F.col("__old_present").isNotNull(), F.col(f"__old_{c}"))
            .alias(f"{c}__old")
            for c in cols
        ]
    return (
        joined.withColumn(change_col, change)
        .filter(F.col(change_col).isNotNull())
        .select(*out_cols, change_col)
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    case_insensitive: bool = False,
    change_col: str = "change_type",
) -> DataFrame:
    """Apply a read_changes feed to a replica: insert/update rows upsert,
    delete rows delete — the downstream half of the CDC loop.  By
    construction, ``apply_changes(version N, read_changes(N, M))`` is
    row-identical to version M (tests/test_cdc.py proves it across a chain
    of versions), so an incremental consumer that follows the feed never
    re-reads a full table.

    Scale shape: one key-shuffle join for the upsert half and one anti-join
    for the delete half — both against the (small) change set, with the
    replica side broadcast-eligible per batch; the same algebra as one
    reference job run, driven by the diff instead of the full source."""
    from dataintegration_ecomprovider_spark.operators import merge as merge_ops

    ups = changes.filter(F.col(change_col) != "delete").drop(change_col)
    dels = changes.filter(F.col(change_col) == "delete").drop(change_col)
    out = merge_ops.upsert(
        target, ups, list(keys),
        case_insensitive=case_insensitive, evolve_schema=True,
    )
    return merge_ops.delete_incoming(
        out, dels, list(keys), case_insensitive=case_insensitive
    )


def _data_files(path: str) -> list[str]:
    """Parquet data files under a table directory (commit markers and
    metadata excluded)."""
    out = []
    for dirpath, dirs, files in os.walk(path):
        # metadata directories (_bloom-*, Spark's _temporary) hold parquet
        # that is NOT table data — prune them the way Hadoop's path filter
        # hides _/.-prefixed paths from the scan
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(dirpath, f))
    return out


# --- file-level statistics & data skipping ---------------------------------
#
# The versioned store's answer to Delta/Iceberg data skipping: at publish
# time, per-file column min/max/null-count statistics are read from the
# parquet footers Spark already wrote (no extra job — O(files) driver-side
# footer reads) and recorded in a `_STATS.json` sidecar inside the immutable
# table directory.  scan_table() then answers selective reads by handing
# Spark ONLY the files whose [min, max] range can satisfy the predicate.
# At 100 TB this is the difference between listing/opening a million files
# and opening the dozen that matter — parquet row-group skipping only helps
# AFTER a file is opened; this prunes before the scan is planned.  The
# underscore prefix keeps the sidecar invisible to Spark's own file
# discovery (same convention as _SUCCESS).


# String min/max stats are TRUNCATED to this many characters (Delta's
# convention, same default): a document corpus's multi-KB `text` column
# would otherwise store its longest values verbatim in _STATS — metadata
# must be O(files), not O(files × document length).  The truncated min is
# a plain prefix (still a lower bound under lexicographic order); the
# truncated max gets its last incrementable character bumped so it stays
# a STRICT upper bound, or drops to None (no pruning on that side) when
# every prefix character is already maximal.  Widening the recorded
# [min, max] interval is always sound: may-match keeps more files,
# must-match proves less — no false skips, pinned in
# tests/test_store_layout.py.
STATS_STRING_PREFIX = 32


def _truncate_stat_min(s: str) -> str:
    return s[:STATS_STRING_PREFIX]


def _truncate_stat_max(s: str) -> str | None:
    if len(s) <= STATS_STRING_PREFIX:
        return s
    prefix = s[:STATS_STRING_PREFIX]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp >= 0x10FFFF:
            continue  # position already maximal: carry into the next one
        nxt = cp + 1
        if 0xD800 <= nxt <= 0xDFFF:
            nxt = 0xE000  # skip the surrogate gap (not valid standalone)
        return prefix[:i] + chr(nxt)
    return None  # no representable upper bound (pathological input)


def _stat_value(v):
    """Parquet-footer statistic → JSON-storable, order-preserving value.
    None = unusable for pruning (conservative)."""
    import datetime
    import decimal
    import math

    if isinstance(v, bool) or v is None:
        return None  # bool min/max never worth a skip decision
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        # naive-UTC ISO: pyarrow yields tz-AWARE datetimes for
        # isAdjustedToUTC timestamps, but predicate operands are naive
        # (session pins UTC) — a "+00:00" suffix would lexicographically
        # exceed the bare ISO of the SAME instant and falsely skip
        # boundary-equality probes
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()  # ISO order == chronological order
    return None  # bytes & exotic types: no pruning


def _partition_values(rel_dir: str) -> dict[str, str]:
    """Hive-style `col=val` path segments → {col: val} (partition columns
    never appear in the footers, so their stats come from the path)."""
    from urllib.parse import unquote

    out: dict[str, str] = {}
    for seg in rel_dir.split(os.sep):
        if "=" in seg:
            col, _, val = seg.partition("=")
            out[col] = unquote(val)
    return out


def _footer_stats(md, tracked: Sequence[str]) -> dict[str, list]:
    """Per-column [min, max, nulls] merged across one file's row groups
    (None where the footer has no usable statistic)."""
    stats: dict[str, list] = {}
    for i in range(md.num_columns):
        name = md.schema.column(i).path
        if name not in tracked:
            continue
        mn = mx = None
        nulls = 0
        usable = True
        nulls_known = True
        for rg in range(md.num_row_groups):
            try:
                st = md.row_group(rg).column(i).statistics
            except Exception:  # noqa: BLE001 — e.g. pyarrow cannot cast
                st = None      # decimal stats; file just stays unprunable
            if st is None:
                usable = False
                nulls_known = False
                break
            if st.null_count is None:
                nulls_known = False
            else:
                nulls += st.null_count
            if not st.has_min_max:
                # all-null row group has no min/max but stays prunable
                if st.null_count == md.row_group(rg).num_rows:
                    continue
                usable = False
                continue
            try:
                lo, hi = _stat_value(st.min), _stat_value(st.max)
            except Exception:  # noqa: BLE001 — pyarrow cannot decode the
                lo = hi = None  # stat (e.g. some decimal encodings)
            if lo is None or hi is None:
                usable = False
                continue
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        if usable and isinstance(mn, str):
            # truncate AFTER the cross-row-group merge (the merge must
            # compare full values); bounds stay sound, entries stay O(1)
            mn = _truncate_stat_min(mn)
        if usable and isinstance(mx, str):
            mx = _truncate_stat_max(mx)
        stats[name] = [
            mn if usable else None,
            mx if usable else None,
            nulls if nulls_known else None,
        ]
    return stats


def write_stats_sidecar(path: str, columns: Sequence[str] | None = None) -> dict:
    """Collect per-file stats for every data file under `path` and write
    `<path>/_STATS.json`.  Returns {"rows", "bytes", "num_files"}.

    Per file: rows, bytes, and for each tracked column [min, max, nulls]
    merged across row groups (None where the footer has no usable stat —
    pruning then keeps the file).  Partition columns materialize as
    min == max == the directory value.

    Footers are read on the driver with an I/O thread pool (a footer is a
    few KB; the reads are latency-bound, not CPU-bound), so a 100k-file
    table costs seconds, not minutes — the same driver-side trade Delta
    makes collecting stats at commit time."""
    import concurrent.futures

    import pyarrow.parquet as pq

    files = sorted(_data_files(path))
    tracked: list[str] | None = list(columns) if columns is not None else None
    if tracked is None and files:
        md0 = pq.ParquetFile(files[0]).metadata
        # default: first MAX_STATS_COLUMNS top-level primitive columns
        tracked = [
            md0.schema.column(i).path
            for i in range(md0.num_columns)
            if "." not in md0.schema.column(i).path
        ][:MAX_STATS_COLUMNS]

    def one_file(f: str) -> dict:
        md = pq.ParquetFile(f).metadata
        stats = _footer_stats(md, tracked or [])
        rel = os.path.relpath(f, path)
        for col, val in _partition_values(os.path.dirname(rel)).items():
            stats[col] = [val, val, 0]
        return {
            "file": rel,
            "rows": md.num_rows,
            "bytes": os.path.getsize(f),
            "stats": stats,
        }

    if files:
        with concurrent.futures.ThreadPoolExecutor(max_workers=32) as pool:
            entries = list(pool.map(one_file, files))
    else:
        entries = []
    total_rows = sum(e["rows"] for e in entries)
    if len(entries) <= STATS_INLINE_MAX_FILES:
        sidecar = {"files": entries}
    else:
        # columnar checkpoint: past the inline cap the per-file entries
        # land in parquet under _stats-*/ (file, rows, bytes, stats-as-
        # JSON-string — Delta's checkpoint encodes file stats the same
        # way) and _STATS.json is a bounded pointer.  Readers stream the
        # parquet; no single json ever holds a million file entries.
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq_w

        dirname = f"_stats-{_uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.join(path, dirname), exist_ok=True)
        for i in range(0, len(entries), STATS_SHARD_ROWS):
            chunk = entries[i:i + STATS_SHARD_ROWS]
            tbl = pa.table(
                {
                    "file": [e["file"] for e in chunk],
                    "rows": [e["rows"] for e in chunk],
                    "bytes": [e["bytes"] for e in chunk],
                    "stats": [json.dumps(e["stats"]) for e in chunk],
                }
            )
            pq_w.write_table(
                tbl,
                os.path.join(path, dirname, f"part-{i // STATS_SHARD_ROWS:05d}.parquet"),
            )
        sidecar = {"format": "parquet", "dir": dirname, "num_files": len(entries)}
    tmp = os.path.join(path, STATS_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(sidecar, fh)
    os.replace(tmp, os.path.join(path, STATS_FILE))
    # superseded _stats-* checkpoint dirs are NOT deleted here: a reader
    # that already parsed the old sidecar JSON may still be mid-scan of
    # the old dir (the version-dir immutability contract).  They are
    # swept age-gated by collect_orphans/maintain_store — and that sweep
    # runs regardless of the NEW sidecar's format, so a fallback to an
    # inline sidecar after a compact doesn't strand the previous
    # parquet checkpoint forever.
    return {
        "rows": total_rows,
        "bytes": sum(e["bytes"] for e in entries),
        "num_files": len(entries),
    }


# Inline cap for _STATS.json: tables up to this many files keep the
# single-json sidecar (cheap, human-readable); larger tables checkpoint
# to parquet.  ~1k entries ≈ a few hundred KB of json — well under any
# parse-time or file-size concern.
STATS_INLINE_MAX_FILES = 1000
STATS_SHARD_ROWS = 100_000  # rows per stats-checkpoint parquet file


# Parsed-stats cache: version directories are immutable (a rewrite lands
# in a NEW dir), so per-path entries can be reused across prune calls —
# repeated selective scans of a million-file table parse its checkpoint
# once, not per query.  The version, an (mtime_ns, size) stat pair of the
# sidecar, guards the one mutation that exists (write_stats_sidecar
# re-running over the same dir, e.g. after a MoR delta commit refreshes
# delta-dir stats) — second-granularity mtime alone can serve stale
# entries when a refresh lands within the same clock second.
_SIDECAR_STATS = runtime.KeyedCache(64)


def _load_stats_entries(path: str) -> list[dict] | None:
    """The per-file stats entries recorded by write_stats_sidecar, inline
    or parquet-checkpointed; None when the table was published with
    collect_stats=False.  Cached per immutable version directory."""
    sidecar = os.path.join(path, STATS_FILE)
    try:
        st = os.stat(sidecar)
    except FileNotFoundError:
        return None
    return _SIDECAR_STATS.get(
        path, (st.st_mtime_ns, st.st_size),
        lambda: _read_stats_entries(sidecar, path),
    )


def _read_stats_entries(sidecar: str, path: str) -> list[dict]:
    with open(sidecar, encoding="utf-8") as fh:
        stats = json.load(fh)
    if stats.get("format") != "parquet":
        return stats["files"]
    import pyarrow.dataset as ds

    tbl = ds.dataset(
        os.path.join(path, stats["dir"]), format="parquet"
    ).to_table()
    return [
        {"file": f, "rows": r, "bytes": b, "stats": json.loads(s)}
        for f, r, b, s in zip(
            tbl.column("file").to_pylist(),
            tbl.column("rows").to_pylist(),
            tbl.column("bytes").to_pylist(),
            tbl.column("stats").to_pylist(),
        )
    ]


BLOOM_FILE = "_BLOOM.json"


def _bloom_params(ndv: int, fpp: float) -> tuple[int, int]:
    """Optimal (bits m, hash count k) for `ndv` distinct values at false-
    positive rate `fpp` — the standard Bloom sizing formulas."""
    import math

    ndv = max(1, ndv)
    m = max(64, int(math.ceil(-ndv * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / ndv * math.log(2)))
    return m, min(k, 16)


def _bloom_positions_py(value, k: int, m: int) -> list[int]:
    """Driver-side twin of the Spark-side position expression in
    write_bloom_sidecar — MUST stay formula-identical (parity-pinned in
    tests/test_bloom.py::test_position_parity).

    Kirsch-Mitzenmacher double hashing: position_i = (h1 + i·h2) mod m
    from TWO md5 digests, preserving the Bloom fpp bound while the build
    pass computes 2 hashes per value instead of k (k≈15 at fpp=1e-3 —
    the dominant cost of the distributed build at corpus scale)."""
    import hashlib

    h1 = int(hashlib.md5(f"{value}#h1".encode()).hexdigest()[:15], 16) % m
    h2 = int(hashlib.md5(f"{value}#h2".encode()).hexdigest()[:15], 16) % (m - 1) + 1
    return [(h1 + i * h2) % m for i in range(k)]


def write_bloom_sidecar(
    spark: SparkSession,
    root: str,
    name: str,
    columns: Sequence[str],
    fpp: float = 0.01,
    ndv_per_file: int | None = None,
) -> dict:
    """Build a per-file Bloom filter index for `columns` of the CURRENT
    version of `name`: bitmaps land as a sharded parquet index under
    `<path>/_bloom-*/` (one (col, file, bitmap) row per file, written
    distributed), and `<path>/_BLOOM.json` holds only the (m, k) sizing —
    a few hundred bytes regardless of file count, the Delta-checkpoint /
    Iceberg-manifest role for this sidecar.

    Why: min/max stats prune nothing for a point lookup on a
    high-cardinality column that isn't clustered — every file's [min, max]
    spans the domain.  A Bloom filter answers "this file definitely does
    not contain v" regardless of ordering, which is the 100 TB needle
    lookup (order id, user id, document hash) against append-ordered
    files.  Delta's Bloom index / Parquet's optional bloom pages play the
    same role; this one lives beside _STATS.json so prune_files consults
    both.  scan_table/prune_files use it for `=` and `in` predicates.

    Cost: one distributed pass over the base; each input split packs its
    rows' positions into per-file partial bitmaps executor-side
    (map-side combine), so the shuffle carries O(splits × m/8) packed
    bytes and the driver never holds a bitmap.  Opt-in per table, like
    clustered compaction — rerun after compact() (the sidecar lives
    inside the data directory, so a rewrite naturally sheds it).
    Restricted to integer/string columns: the hash canonicalizes through
    a string cast, which is bit-stable across engines only for those
    types.  Merge-on-read deltas are unaffected (pruning already touches
    only the base side).

    Returns {"columns": {col: {"m", "k"}}, "num_files"}.
    """
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    path = entry["path"] if isinstance(entry, dict) else entry
    columns = [_phys_name(entry, c) for c in columns]

    # index merge-on-read DELTA files too (rel paths outside the base
    # dir): their bitmaps let key-column point lookups skip whole delta
    # dirs (_prune_delta_dirs).  Hive-partitioned layouts keep the
    # single-path read (partition inference needs one basePath; such
    # entries don't mix with delta logs in practice).
    sources = _entry_paths(entry)
    if len(sources) > 1 and not (
        isinstance(entry, dict) and entry.get("partition_by")
    ):
        base = spark.read.option("mergeSchema", "true").parquet(*sources)
    else:
        base = _cached_parquet(spark, path)
    allowed = {"tinyint", "smallint", "int", "bigint", "string"}
    for c in columns:
        dt = dict(base.dtypes).get(c)
        if dt is None:
            raise ValueError(f"column {c!r} not in table {name!r}")
        if dt not in allowed:
            raise ValueError(
                f"bloom column {c!r} has type {dt}; only integer/string "
                "columns hash bit-stably through the string canonicalization"
            )

    if ndv_per_file is None:
        stats = table_stats(root, name)
        if stats and stats.get("num_files"):
            ndv_per_file = max(1, stats["rows"] // stats["num_files"])
        else:
            ndv_per_file = 100_000

    params = {c: _bloom_params(ndv_per_file, fpp) for c in columns}
    index = _bloom_index_df(base, path, columns, params)

    # Layout: shard so each index file is ~64 MB; the (col, file) range
    # partitioning + sort gives every shard a tight [min, max] on `file`,
    # so a point lookup's pyarrow read decodes only the shards/row groups
    # covering the probed files.
    nfiles = entry.get("num_files") if isinstance(entry, dict) else None
    if not nfiles:
        nfiles = len(_data_files(path))
    est_bytes = sum((m + 7) // 8 for m, _k in params.values()) * max(1, nfiles)
    nparts = max(1, min(1 + est_bytes // (64 << 20), 4096))
    import uuid

    dirname = f"_bloom-{uuid.uuid4().hex[:8]}"
    (
        index.repartitionByRange(int(nparts), "col", "file")
        .sortWithinPartitions("col", "file")
        .write.mode("overwrite")
        .parquet(os.path.join(path, dirname))
    )
    # provably-valueless files (empty part files, all-null columns) get
    # explicit zero bitmaps so probes can skip them and the covered set
    # is complete — BEFORE the json flip, so the commit is atomic
    _append_zero_bitmaps(
        os.path.join(path, dirname),
        _zero_bitmap_rows(entry, path, list(columns), params),
    )

    sidecar = {
        "format": "parquet",
        "dir": dirname,
        "columns": {c: {"m": m, "k": k} for c, (m, k) in params.items()},
    }
    tmp = os.path.join(path, BLOOM_FILE + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(sidecar, fh)
    os.replace(tmp, os.path.join(path, BLOOM_FILE))
    # the json flip is the commit point; superseded _bloom-* dirs become
    # garbage but are swept age-gated by collect_orphans (a reader that
    # loaded the old json may still be probing the old shards — deleting
    # here would break the immutable-version-dir contract mid-scan)

    import pyarrow.dataset as _ds

    index_ds = _ds.dataset(os.path.join(path, dirname), format="parquet")
    num_files = max(
        (
            index_ds.count_rows(filter=_ds.field("col") == c)
            for c in columns
        ),
        default=0,
    )
    return {
        "columns": {c: {"m": m, "k": k} for c, (m, k) in params.items()},
        "num_files": num_files,
    }


def _zero_bitmap_rows(
    entry, base_path: str, columns: Sequence[str], params, only_rels=None
) -> list[tuple]:
    """(col, rel_file, all-zero bitmap) rows for files the stats sidecar
    PROVES hold no indexable value of a column (empty file, or null count
    == row count): an all-zero bitmap is the correct Bloom filter for an
    empty value set, and recording it keeps such files inside the index's
    covered set — otherwise probes must conservatively keep them (the
    empty part files a small MoR commit writes would defeat delta-dir
    pruning) and refresh_bloom_sidecar would re-scan them every pass.
    Files without a provable stat stay unrecorded (conservative)."""
    rows: list[tuple] = []
    for p in _entry_paths(entry):
        for e in _load_stats_entries(p) or []:
            rel = os.path.relpath(os.path.join(p, e["file"]), base_path)
            if only_rels is not None and rel not in only_rels:
                continue
            nrows = e.get("rows")
            for c in columns:
                s = e.get("stats", {}).get(c)
                if nrows == 0 or (
                    s is not None
                    and s[2] is not None
                    and nrows is not None
                    and s[2] == nrows
                ):
                    m, _k = params[c]
                    rows.append((c, rel, bytes((m + 7) // 8)))
    return rows


def _append_zero_bitmaps(index_dir: str, rows: list[tuple]) -> None:
    if not rows:
        return
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq_w

    tbl = pa.table(
        {
            "col": [r[0] for r in rows],
            "file": [r[1] for r in rows],
            "bitmap": [r[2] for r in rows],
        }
    )
    pq_w.write_table(
        tbl, os.path.join(index_dir, f"zeros-{_uuid.uuid4().hex[:8]}.parquet")
    )


def refresh_bloom_sidecar(
    spark: SparkSession,
    root: str,
    name: str,
    columns: Sequence[str],
    fpp: float = 0.01,
) -> dict:
    """INCREMENTAL Bloom maintenance: extend `name`'s existing index to
    cover files it doesn't know yet — scanning ONLY those files.

    write_bloom_sidecar is a full O(table) build; between rewrites a
    table keeps growing through merge_into_mor delta commits, and every
    delta file is absent from the index.  This top-up (the Delta
    "incremental OPTIMIZE of the index" role) diffs the index's covered
    file set against the entry's current files — base data files PLUS
    every merge-on-read delta file, keyed by path relative to the base
    dir — packs bitmaps for just the uncovered ones (one Spark pass over
    those files alone), and APPENDS the new shards into the existing
    `_bloom-*/` directory.  Sizing (m, k) is reused from `_BLOOM.json`,
    so probes stay formula-compatible and no json flip is needed; a
    reader mid-probe sees either the old or the extended file set, both
    sound (a missing bitmap keeps the file).

    Falls back to the full write_bloom_sidecar when no index exists or
    the requested column set isn't covered by the recorded one.  Run it
    from maintain_store after plain appends: at 100 TB the nightly bloom
    cost becomes O(day's deltas), not O(table).

    Delta-file bitmaps feed _scan_entry's delta pruning: a point lookup
    on a KEY column skips delta directories whose files provably lack
    the probed keys — key columns are the merge-on-read replay identity,
    so a file with none of the probed keys cannot affect their
    reconstruction (non-key probes abstain; pruning deltas on them would
    be unsound because a delta can rewrite non-key values).

    Returns {"mode": "rebuild"|"noop"|"refresh", "added_files": int,
    "columns": {col: {"m", "k"}}}."""
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    path = entry["path"] if isinstance(entry, dict) else entry
    columns = [_phys_name(entry, c) for c in columns]
    bloom_path = os.path.join(path, BLOOM_FILE)
    existing = None
    if os.path.exists(bloom_path):
        with open(bloom_path, encoding="utf-8") as fh:
            existing = json.load(fh)
    if (
        existing is None
        or existing.get("format") != "parquet"
        or not set(columns) <= set(existing.get("columns", {}))
    ):
        res = write_bloom_sidecar(spark, root, name, columns, fpp=fpp)
        return {
            "mode": "rebuild",
            "added_files": res["num_files"],
            "columns": res["columns"],
        }

    import pyarrow.dataset as ds

    index_dir = os.path.join(path, existing["dir"])
    covered = set(
        ds.dataset(index_dir, format="parquet")
        .to_table(columns=["file"])
        .column("file")
        .to_pylist()
    )
    current = {
        os.path.relpath(f, path): f
        for p in _entry_paths(entry)
        for f in _data_files(p)
    }
    uncovered = sorted(set(current) - covered)
    meta = {
        c: (existing["columns"][c]["m"], existing["columns"][c]["k"])
        for c in columns
    }
    if not uncovered:
        return {
            "mode": "noop", "added_files": 0,
            "columns": {c: {"m": m, "k": k} for c, (m, k) in meta.items()},
        }
    # provably-valueless uncovered files (empty part files, all-null
    # columns) join the index as zero bitmaps without any scan
    zero_rows = _zero_bitmap_rows(
        entry, path, list(columns), meta, only_rels=set(uncovered)
    )
    zeroed_cols: dict[str, int] = {}
    for _c, rel, _bm in zero_rows:
        zeroed_cols[rel] = zeroed_cols.get(rel, 0) + 1
    # a file needs the scan only if SOME requested column lacks a
    # provable zero bitmap for it
    to_scan = [r for r in uncovered if zeroed_cols.get(r, 0) < len(columns)]
    if to_scan:
        # one pass over ONLY the uncovered files; mergeSchema tolerates
        # delta files narrower than the base (pre-evolution commits) —
        # an absent column reads null and nulls are never indexed
        base = spark.read.option("mergeSchema", "true").parquet(
            *[current[r] for r in to_scan]
        )
        index = _bloom_index_df(base, path, list(columns), meta)
        index.write.mode("append").parquet(index_dir)
    _append_zero_bitmaps(index_dir, zero_rows)
    return {
        "mode": "refresh", "added_files": len(uncovered),
        "columns": {c: {"m": m, "k": k} for c, (m, k) in meta.items()},
    }


def _prune_delta_dirs(entry: dict, path: str, where: Sequence[tuple]) -> list[dict]:
    """The subset of a merge-on-read entry's delta dirs a pruned scan
    must replay: a dir drops out only when, for EVERY data file in it,
    the Bloom index proves the predicate's KEY-column probes cannot
    match (see refresh_bloom_sidecar on why only key columns are sound
    for the delta side).  Conservative everywhere else — no index, file
    unknown to the index, non-key probes, NOT — keeps the dir.  Order is
    preserved, so last-wins replay is unaffected."""
    deltas = entry.get("deltas", [])
    if not where or not deltas:
        return list(deltas)
    keys = set(entry.get("keys") or ())
    if not keys:
        return list(deltas)
    bloom_path = os.path.join(path, BLOOM_FILE)
    if not os.path.exists(bloom_path):
        return list(deltas)
    with open(bloom_path, encoding="utf-8") as fh:
        bloom = json.load(fh)
    probe_cols = _bloom_probe_columns(where) & set(bloom["columns"]) & keys
    if not probe_cols:
        return list(deltas)
    rels: dict[str, list[str]] = {}
    for d in deltas:
        rels[d["path"]] = [
            os.path.relpath(f, path) for f in _data_files(d["path"])
        ]
    all_rels = {r for files in rels.values() for r in files}
    bitmaps = {
        col: _load_bloom_bitmaps(path, bloom, col, all_rels)
        for col in probe_cols
    }
    key_meta = {c: bloom["columns"][c] for c in probe_cols}
    kept = []
    for d in deltas:
        files = rels[d["path"]]
        if files and all(
            not all(
                _node_bloom_may_match(p, key_meta, bitmaps, rel)
                for p in where
            )
            for rel in files
        ):
            continue  # every file provably lacks the probed keys
        kept.append(d)
    return kept


def _bloom_digest_mod(suffix: str, modulus) -> "F.Column":
    """md5-derived hash of the string-canonicalized value, mod `modulus`
    — formula-identical to _bloom_positions_py (parity-pinned)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("__v").cast("string"), F.lit(suffix))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        modulus,
    )


def _bloom_index_df(base, path: str, columns, params) -> DataFrame:
    """The distributed Bloom build plan: one (col, file, bitmap) row per
    data file per indexed column, with bitmaps packed ENTIRELY executor-
    side.

    Stage 1 (mapInPandas, map-side combine): each input split computes the
    Kirsch-Mitzenmacher positions for its rows vectorized in numpy and ORs
    them into one partial bitmap per file it touches — the shuffle carries
    O(splits × m/8) packed bytes, not O(rows × k) position ints.  Stage 2
    (applyInPandas per file) ORs the partials.  Nothing larger than the
    index itself ever exists in one place, and the driver never sees a bit
    position (collecting every file's position set to the driver costs
    40×+ the index size; an OOM at 100 TB file counts)."""
    union = None
    for c in columns:
        m, k = params[c]
        nbytes = (m + 7) // 8

        def partial_pack(batches, m=m, k=k, nbytes=nbytes):
            import numpy as np
            import pandas as pd

            # worker-memory guard: a partition of coalesced SMALL files
            # can touch hundreds of files; flush partials past this many
            # live buffers instead of holding files × m/8 bytes (the
            # merge stage ORs duplicates anyway)
            max_live = max(1, (256 << 20) // max(1, nbytes))

            bufs: dict[str, "np.ndarray"] = {}
            for pdf in batches:
                for f, g in pdf.groupby("__file", sort=False):
                    buf = bufs.get(f)
                    if buf is None:
                        if len(bufs) >= max_live:
                            for ff, bb in bufs.items():
                                yield pd.DataFrame(
                                    {"__file": [ff], "__bm": [bb.tobytes()]}
                                )
                            bufs.clear()
                        buf = bufs[f] = np.zeros(nbytes, dtype=np.uint8)
                    h1 = g["__h1"].to_numpy(np.int64)
                    h2 = g["__h2"].to_numpy(np.int64)
                    for i in range(k):
                        pos = (h1 + i * h2) % m
                        np.bitwise_or.at(
                            buf,
                            pos >> 3,
                            np.left_shift(
                                np.uint8(1), (pos & 7).astype(np.uint8)
                            ),
                        )
            for f, buf in bufs.items():
                yield pd.DataFrame({"__file": [f], "__bm": [buf.tobytes()]})

        def make_merge(path):
            # single-arg closure: applyInPandas passes (key, pdf) to any
            # TWO-parameter function, so no extra default args here
            def merge_partials(pdf):
                import numpy as np
                import pandas as pd

                arrs = np.stack(
                    [np.frombuffer(b, dtype=np.uint8) for b in pdf["__bm"]]
                )
                rel = os.path.relpath(
                    pdf["__file"].iloc[0].removeprefix("file://"), path
                )
                return pd.DataFrame(
                    {
                        "file": [rel],
                        "bitmap": [
                            np.bitwise_or.reduce(arrs, axis=0).tobytes()
                        ],
                    }
                )

            return merge_partials

        merge_partials = make_merge(path)

        packed = (
            base.select(
                F.input_file_name().alias("__file"), F.col(c).alias("__v")
            )
            .filter(F.col("__v").isNotNull())
            .select(
                "__file",
                _bloom_digest_mod("#h1", F.lit(m)).alias("__h1"),
                (_bloom_digest_mod("#h2", F.lit(m - 1)) + F.lit(1)).alias(
                    "__h2"
                ),
            )
            .mapInPandas(partial_pack, "__file string, __bm binary")
            .groupBy("__file")
            .applyInPandas(merge_partials, "file string, bitmap binary")
            .select(F.lit(c).alias("col"), "file", "bitmap")
        )
        union = packed if union is None else union.unionByName(packed)
    return union


def _bitmap_may_contain(buf: bytes, k: int, m: int, value) -> bool:
    """False only when the file's bitmap PROVES `value` absent."""
    for p in _bloom_positions_py(value, k, m):
        if not (buf[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _load_bloom_bitmaps(
    path: str, bloom: dict, col: str, rel_files
) -> dict[str, bytes]:
    """{rel_file: packed bitmap} for `col`, reading ONLY the requested
    rows of the sharded parquet index — the (col, file) sort order gives
    pyarrow row-group min/max pruning, so a point lookup over a million-
    file table decodes a handful of row groups, never the whole index."""
    if bloom.get("format") != "parquet":  # legacy inline sidecar
        import base64

        files = bloom["columns"][col].get("files", {})
        return {
            f: base64.b64decode(b) for f, b in files.items() if f in rel_files
        }
    import pyarrow.dataset as ds

    tbl = ds.dataset(
        os.path.join(path, bloom["dir"]), format="parquet"
    ).to_table(
        filter=(ds.field("col") == col)
        & ds.field("file").isin(list(rel_files)),
        columns=["file", "bitmap"],
    )
    return dict(
        zip(tbl.column("file").to_pylist(), tbl.column("bitmap").to_pylist())
    )


def table_stats(root: str, name: str) -> dict | None:
    """{"rows", "bytes", "num_files"} recorded at publish time for the
    current version of `name`, or None if published with
    collect_stats=False.  Free to read (manifest only) — the input to
    size-based planning decisions (broadcast thresholds, compaction
    triggers) without a Spark job."""
    entry = current_manifest(root)["tables"].get(name)
    if isinstance(entry, dict) and "rows" in entry:
        stats = {
            "rows": entry["rows"],
            "bytes": entry["bytes"],
            "num_files": entry.get("num_files"),
        }
        deltas = entry.get("deltas") or []
        if deltas:
            # merge-on-read: add the delta log's footprint.  `rows` becomes
            # an UPPER bound (an update counts in both base and delta until
            # compaction); bytes/num_files are exact for what a reader opens.
            stats["rows"] += sum(int(d.get("rows", 0)) for d in deltas)
            stats["bytes"] += sum(int(d.get("bytes", 0)) for d in deltas)
            if stats["num_files"] is not None:
                stats["num_files"] += sum(
                    int(d.get("num_files", 1)) for d in deltas
                )
            stats["num_deltas"] = len(deltas)
        return stats
    return None


def metadata_aggregate(
    root: str,
    name: str,
    aggs: Sequence[Sequence[str]],
    version: int | None = None,
    where: Sequence[tuple] = (),
) -> dict | None:
    """Answer COUNT / MIN / MAX / NULL_COUNT aggregates from the stats
    sidecar alone — zero Spark jobs, zero data files opened: O(1) manifest
    reads plus one (cached) sidecar parse.  The Delta/Iceberg
    metadata-only-query role: ``SELECT COUNT(*) FROM t`` on a 100 TB table
    is a driver-side sum of per-file row counts, not a cluster scan.

    `aggs` is a list of specs: ``("count",)``, ``("min", col)``,
    ``("max", col)``, ``("null_count", col)`` with LOGICAL column names.
    Returns ``{"count": n, "min_<col>": v, ...}`` — or **None whenever the
    metadata cannot answer EXACTLY**, in which case the caller must scan
    (see aggregate_table).  Unanswerable cases, each deliberate:

    - the entry carries MoR deltas (updates/deletes make file stats
      upper/lower bounds, not values) — compact() restores answerability;
    - no stats sidecar (collect_stats=False) or an untracked column;
    - a file whose footer had no usable stat for the column;
    - min/max on a string whose recorded bound reaches the 32-char
      truncation cap (a prefix orders correctly for pruning but is not
      the true value; shorter strings are provably untruncated — see
      _truncate_stat_min/_truncate_stat_max);
    - min/max on a hive-partition column (path values are strings, so a
      numeric partition column would compare lexicographically);
    - min/max on floats when any file holds NaN (parquet writers order
      NaN inconsistently; footer bounds are then not trustworthy as
      values) — guarded upstream: _stat_value drops NaN bounds, which
      lands in the no-usable-stat case.

    Timestamps/dates answer as their ISO-8601 strings (the sidecar's
    order-preserving encoding).  NULL_COUNT and COUNT also work on
    strings and partition columns.  Columns are logical: renamed tables
    translate through the manifest column map; dropped columns refuse.

    `where` (scan_table's predicate algebra) scopes the aggregates to a
    FILTERED view using the same three-valued file logic the pruner runs:
    a file that provably CANNOT match contributes nothing, a file whose
    EVERY row provably matches (_node_must_match) contributes its full
    stats, and any file in between makes the question unanswerable (None
    — the caller scans).  ``SELECT COUNT(*) WHERE ingest_date = X`` on a
    date-partitioned table is then pure metadata — the partition-pruned
    count Delta/Iceberg answer from their logs — while a predicate that
    genuinely straddles file boundaries falls back honestly."""
    tables = (
        tables_at(root, version) if version is not None
        else current_manifest(root)["tables"]
    )
    if name not in tables:
        raise KeyError(f"table {name!r} absent under {root}")
    entry = tables[name]
    entry = {"path": entry} if isinstance(entry, str) else entry
    if entry.get("deltas"):
        return None
    stats_entries = _load_stats_entries(entry["path"])
    if stats_entries is None:
        return None
    renames, dropped = _column_map(entry)  # {physical: logical}
    to_physical = {v: k for k, v in renames.items()}
    part_cols = set(entry.get("partition_by") or [])
    if where:
        # three-valued file triage under the predicate: cannot-match
        # files drop out, must-match files contribute fully, anything
        # in between defeats exactness
        pwhere = _phys_where(entry, where)
        kept = []
        for e in stats_entries:
            if not all(_node_may_match(e, p) for p in pwhere):
                continue
            if not all(_node_must_match(e, p) for p in pwhere):
                return None
            kept.append(e)
        stats_entries = kept
    out: dict = {}
    for spec in aggs:
        op = spec[0]
        if op == "count":
            out["count"] = sum(e["rows"] for e in stats_entries)
            continue
        if op not in ("min", "max", "null_count") or len(spec) != 2:
            raise ValueError(f"unsupported aggregate spec {tuple(spec)!r}")
        col = spec[1]
        pcol = to_physical.get(col, col)
        if pcol in dropped:
            raise KeyError(f"column {col!r} was dropped from {name!r}")
        if op in ("min", "max") and pcol in part_cols:
            return None  # path-derived values are strings; order unsafe
        acc = None
        nulls = 0
        for e in stats_entries:
            st = e["stats"].get(pcol)
            if st is None:
                return None  # untracked column in at least one file
            mn, mx, nc = st
            if op == "null_count":
                if nc is None:
                    return None
                nulls += nc
                continue
            if mn is None or mx is None:
                # an all-null file legitimately has no min/max; anything
                # else is an unusable footer stat
                if nc is not None and nc == e["rows"]:
                    continue
                return None
            v = mn if op == "min" else mx
            if isinstance(v, str) and len(v) >= STATS_STRING_PREFIX:
                return None  # possibly a truncated bound, not a value
            if acc is None or (v < acc if op == "min" else v > acc):
                acc = v
        out[f"{op}_{col}"] = nulls if op == "null_count" else acc
    return out


def aggregate_table(
    spark: SparkSession,
    root: str,
    name: str,
    aggs: Sequence[Sequence[str]],
    version: int | None = None,
    where: Sequence[tuple] = (),
) -> tuple[dict, str]:
    """`metadata_aggregate` with a transparent scan fallback: returns
    (results, source) where source is ``"metadata"`` (no Spark job ran)
    or ``"scan"`` (the exact same aggregates computed by Spark over the
    table — MoR deltas, missing stats, truncated strings and predicates
    that straddle file boundaries all land here; the scan goes through
    scan_table, so file skipping still prunes it).  Scan-side
    date/timestamp results format to ISO strings so the two sources
    agree on types."""
    md = metadata_aggregate(root, name, aggs, version=version, where=where)
    if md is not None:
        return md, "metadata"
    from pyspark.sql.types import DateType, TimestampType

    if where:
        df = (
            scan_table_at(spark, root, name, version, where)
            if version is not None else scan_table(spark, root, name, where)
        )
    else:
        df = (
            read_table_at(spark, root, name, version)
            if version is not None else read_table(spark, root, name)
        )
    types = {f.name: f.dataType for f in df.schema.fields}

    def _iso(col: str):
        t = types.get(col)
        if isinstance(t, TimestampType):
            def fmt(c):
                # python isoformat parity: fraction only when nonzero,
                # and then always 6 digits
                sec = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
                frac = F.date_format(c, "SSSSSS")
                return F.when(c.isNull(), F.lit(None)).when(
                    frac != F.lit("000000"), F.concat(sec, F.lit("."), frac)
                ).otherwise(sec)
            return fmt
        if isinstance(t, DateType):
            return lambda c: F.date_format(c, "yyyy-MM-dd")
        return lambda c: c

    exprs = []
    for spec in aggs:
        op = spec[0]
        if op == "count":
            exprs.append(F.count(F.lit(1)).alias("count"))
            continue
        col = spec[1]
        wrap = _iso(col)
        if op == "min":
            exprs.append(wrap(F.min(col)).alias(f"min_{col}"))
        elif op == "max":
            exprs.append(wrap(F.max(col)).alias(f"max_{col}"))
        elif op == "null_count":
            exprs.append(
                F.sum(
                    F.when(F.col(col).isNull(), 1).otherwise(0)
                ).cast("long").alias(f"null_count_{col}")
            )
        else:
            raise ValueError(f"unsupported aggregate spec {tuple(spec)!r}")
    row = df.agg(*exprs).collect()[0]
    return row.asDict(), "scan"


def profile_table(root: str, name: str, version: int | None = None) -> dict:
    """Zero-job data profile from the manifest + stats sidecar: per-column
    null fraction, [min, max] BOUNDS (exact for numerics/temporals; for
    long strings the recorded truncated bounds, flagged), per-file row
    spread, and the delta-log footprint — the first look an operator
    wants at an unfamiliar 100 TB table, for the cost of one JSON parse.

    Unlike metadata_aggregate this never refuses: it reports what the
    metadata KNOWS with per-column ``exact`` flags instead of demanding
    exactness, because a profile is reconnaissance, not an answer.
    MoR deltas are reported (rows/files pending compaction) but their
    contents are not folded in — the profile describes the BASE."""
    tables = (
        tables_at(root, version) if version is not None
        else current_manifest(root)["tables"]
    )
    if name not in tables:
        raise KeyError(f"table {name!r} absent under {root}")
    entry = tables[name]
    entry = {"path": entry} if isinstance(entry, str) else entry
    out: dict = {
        "table": name,
        "version": version,
        "keys": entry.get("keys"),
        "partition_by": entry.get("partition_by"),
        "deltas_pending": {
            "count": len(entry.get("deltas") or []),
            "rows": sum(int(d.get("rows", 0)) for d in entry.get("deltas") or []),
        },
    }
    stats_entries = _load_stats_entries(entry["path"])
    if stats_entries is None:
        out["files"] = None
        out["columns"] = {}
        return out
    rows = [e["rows"] for e in stats_entries]
    total = sum(rows)
    out["files"] = {
        "count": len(stats_entries),
        "rows": total,
        "bytes": sum(e["bytes"] for e in stats_entries),
        "rows_min": min(rows) if rows else 0,
        "rows_max": max(rows) if rows else 0,
    }
    renames, dropped = _column_map(entry)
    cols: dict[str, dict] = {}
    tracked = set()
    for e in stats_entries:
        tracked.update(e["stats"].keys())
    for pcol in sorted(tracked):
        if pcol in dropped:
            continue
        mn = mx = None
        nulls: int | None = 0
        exact = True
        for e in stats_entries:
            st = e["stats"].get(pcol)
            if st is None:
                exact = False
                continue
            lo, hi, nc = st
            if nc is None:
                nulls = None
            elif nulls is not None:
                nulls += nc
            if lo is None or hi is None:
                if not (nc is not None and nc == e["rows"]):
                    exact = False
                continue
            if isinstance(lo, str) and (
                len(lo) >= STATS_STRING_PREFIX or len(hi) >= STATS_STRING_PREFIX
            ):
                exact = False  # truncated bounds: still bounds, not values
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        cols[renames.get(pcol, pcol)] = {
            "min": mn,
            "max": mx,
            "null_fraction": (
                round(nulls / total, 6) if nulls is not None and total else
                (0.0 if nulls is not None else None)
            ),
            "exact": exact,
        }
    out["columns"] = cols
    return out


def clustering_overlap(root: str, name: str, column: str) -> float:
    """Pure-metadata fragmentation metric for `column` on the CURRENT
    version of `name`: the average number of data files whose recorded
    [min, max] range contains another file's range START — 1.0 means
    perfectly clustered (disjoint ranges: every selective scan opens ~1
    file), ~num_files means append-ordered (every file spans the domain:
    min/max skipping prunes nothing).  Delta's OPTIMIZE metrics and
    clustering-depth play the same role.  Reads only the stats sidecar
    (O(files) driver work, no Spark job); files without a usable stat for
    `column` are ignored.  Returns 1.0 when fewer than two files have
    stats (nothing to fragment)."""
    manifest = current_manifest(root)
    if name not in manifest["tables"]:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    entry = manifest["tables"][name]
    path = entry["path"] if isinstance(entry, dict) else entry
    entries = _load_stats_entries(path) or []
    return _interval_overlap(
        _stat_intervals(entries, _phys_name(entry, column))
    )


def _stat_intervals(entries, column: str) -> list[tuple]:
    iv = []
    for e in entries:
        s = e.get("stats", {}).get(column)
        if s and s[0] is not None and s[1] is not None:
            iv.append((s[0], s[1]))
    return iv


def _interval_overlap(iv: list[tuple]) -> float:
    """Average number of intervals containing another interval's start —
    the clustering_overlap metric over an explicit interval list."""
    import bisect

    if len(iv) < 2:
        return 1.0
    starts = sorted(x[0] for x in iv)
    ends = sorted(x[1] for x in iv)
    # active intervals at a point p = #(starts <= p) - #(ends < p);
    # evaluated at every range start, O(n log n)
    total = 0
    for lo, _hi in iv:
        total += bisect.bisect_right(starts, lo) - bisect.bisect_left(ends, lo)
    return total / len(iv)


def recluster(
    spark: SparkSession,
    root: str,
    name: str,
    by: Sequence[str],
    max_overlap: float = 4.0,
    target_files: int | None = None,
    force: bool = False,
) -> dict:
    """Metadata-DRIVEN re-clustering (the Delta OPTIMIZE-when-needed /
    liquid-clustering role): measure clustering_overlap on EACH `by`
    column, and only when the worst exceeds `max_overlap` rewrite the
    table clustered — compact(sort_by=by) for one dimension, the Z-order
    compact(cluster_by=by) for several.  The trigger costs a sidecar read
    (no Spark job), so a nightly maintain_store can evaluate EVERY table
    and pay the O(table) rewrite only for the ones whose layout has
    actually degraded — a continuously-fed 100 TB fact table drifts back
    toward append order between rewrites, and re-clustering on a schedule
    (instead of on measured fragmentation) either thrashes or lags.

    The gate measures EVERY `by` column and triggers on the WORST one:
    after appends, a Z-ordered table's secondary column typically
    degrades first (the leading column's ranges stay narrow while the
    secondary's widen to the domain), and a leading-column-only gate
    would never fire while scans filtered on the secondary silently stop
    pruning.  Per-column overlaps are returned so the caller can see
    which dimension drifted.

    HIVE-PARTITIONED tables recluster WITHIN their partition directories
    (Delta's ``OPTIMIZE WHERE`` role): overlap is measured per
    partition, only partitions above the threshold are rewritten
    (sorted / Z-ordered within the partition), untouched partitions'
    files are HARD-LINKED into the new version directory — zero data
    bytes copied, the manifest-per-directory analog of Delta's
    file-level rewrite — and the layout (`partition_by`) is preserved.
    Bucketed tables still pin their file organization (the bucket hash
    IS the layout), so recluster reports ``reclustered: False`` with a
    ``reason`` instead of paying a full O(table) rewrite that would
    change nothing.

    Returns {"table", "overlap", "overlaps", "reclustered",
    ["overlap_after", "overlaps_after"] | ["reason"]}; partitioned
    tables add {"partition_overlaps", "partitions_rewritten",
    "files_linked"}."""
    by = list(by)
    if not by:
        raise ValueError("recluster needs at least one cluster column")
    entry = current_manifest(root)["tables"].get(name)
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    if isinstance(entry, dict) and entry.get("partition_by"):
        last_err: ConcurrentPublishError | None = None
        for _attempt in range(COMMIT_RETRIES):
            try:
                return _recluster_partitions(
                    spark, root, name, by,
                    max_overlap=max_overlap, force=force,
                    target_files=target_files,
                )
            except ConcurrentPublishError as e:
                last_err = e  # re-measure against the advanced version
        raise last_err
    overlaps = {c: clustering_overlap(root, name, c) for c in by}
    before = max(overlaps.values())
    if not force and before <= max_overlap:
        return {
            "table": name, "overlap": before, "overlaps": overlaps,
            "reclustered": False,
        }
    if isinstance(entry, dict) and entry.get("bucket_keys"):
        return {
            "table": name, "overlap": before, "overlaps": overlaps,
            "reclustered": False,
            "reason": "layout pinned by bucket_keys; clustering rewrite "
                      "cannot be honored",
        }
    kw: dict = {"sort_by": by} if len(by) == 1 else {"cluster_by": by}
    if target_files is not None:
        kw["target_files"] = target_files
    compact(spark, root, name, **kw)
    overlaps_after = {c: clustering_overlap(root, name, c) for c in by}
    return {
        "table": name,
        "overlap": before,
        "overlaps": overlaps,
        "overlap_after": max(overlaps_after.values()),
        "overlaps_after": overlaps_after,
        "reclustered": True,
    }


def _recluster_partitions(
    spark: SparkSession,
    root: str,
    name: str,
    by: list[str],
    max_overlap: float = 4.0,
    force: bool = False,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Partition-scoped recluster (see recluster()): rewrite ONLY the
    fragmented partitions of a hive-partitioned table, hard-link the
    rest.  At 100 TB this is the difference between "recluster the
    day's hot partitions" and "rewrite the table": the nightly pass
    costs O(fragmented partitions) data I/O plus O(files) metadata.
    Value-preserving by construction, so the commit carries rewrite_of
    provenance and CDC bridges straight across it; compare-and-swapped
    on the measured version like compact (recluster() retries)."""
    import math
    import shutil

    manifest = current_manifest(root)
    entry = manifest["tables"][name]
    read_version = manifest["version"]
    path = entry["path"]
    # physical space throughout: stats entries, partition dirs and the
    # rewritten files all carry physical names; the logical map rides
    # onto the new entry untouched
    by = [_phys_name(entry, c) for c in by]
    part_cols = list(entry["partition_by"])
    bad = [c for c in by if c in part_cols]
    if bad:
        raise ValueError(
            f"cluster columns {bad} are partition columns of {name!r}; "
            "every file is constant on them — cluster on a non-partition "
            "column or repartition the table instead"
        )
    if entry.get("deltas"):
        raise ValueError(
            f"table {name!r} has merge-on-read deltas; compact() first"
        )
    entries = _load_stats_entries(path)
    if entries is None:
        return {
            "table": name, "reclustered": False,
            "reason": "partition-scoped recluster needs the per-file "
                      "stats sidecar (publish with collect_stats=True)",
        }
    groups: dict[str, list] = {}
    for e in entries:
        groups.setdefault(os.path.dirname(e["file"]), []).append(e)
    part_overlaps = {
        pdir: {c: _interval_overlap(_stat_intervals(es, c)) for c in by}
        for pdir, es in groups.items()
    }
    fragmented = {
        pdir
        for pdir, ov in part_overlaps.items()
        if force or max(ov.values()) > max_overlap
    }
    worst = {
        c: max((ov[c] for ov in part_overlaps.values()), default=1.0)
        for c in by
    }
    report = {
        "table": name,
        "overlap": max(worst.values(), default=1.0),
        "overlaps": worst,
        "partition_overlaps": {
            p: max(ov.values()) for p, ov in part_overlaps.items()
        },
    }
    if not fragmented:
        return {**report, "reclustered": False}

    txid = f"{int(time.time() * 1000):x}-{uuid.uuid4().hex[:8]}"
    staged = os.path.join(root, "data", txid, name)
    files_linked = 0
    for pdir, es in sorted(groups.items()):
        dst_dir = os.path.join(staged, pdir)
        if pdir in fragmented:
            pbytes = sum(int(e.get("bytes", 0)) for e in es)
            n = target_files or max(1, math.ceil(pbytes / target_file_bytes))
            df = spark.read.parquet(os.path.join(path, pdir))
            if len(by) == 1:
                out = df.repartitionByRange(n, *by).sortWithinPartitions(*by)
            else:
                z = _zvalue_column(df, by)
                out = (
                    df.withColumn("__zorder", z)
                    .repartitionByRange(n, "__zorder")
                    .sortWithinPartitions("__zorder")
                    .drop("__zorder")
                )
            out.write.mode("errorifexists").parquet(dst_dir)
        else:
            # untouched partition: hard-link its files into the new
            # version dir — O(files) metadata, zero data bytes (same
            # filesystem by construction: one store root).  Vacuum of
            # the old version later just drops one name off each inode.
            os.makedirs(dst_dir, exist_ok=True)
            for e in es:
                src = os.path.join(path, e["file"])
                dst = os.path.join(dst_dir, os.path.basename(e["file"]))
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)  # cross-device fallback
                files_linked += 1
    summary = write_stats_sidecar(staged)
    new_entry: dict = {
        "path": staged,
        "partition_by": part_cols,
        "rows": summary["rows"],
        "bytes": summary["bytes"],
        "num_files": summary["num_files"],
        "rewrite_of": read_version,
    }
    if entry.get("keys"):
        new_entry["keys"] = list(entry["keys"])
    if entry.get("constraints"):
        new_entry["constraints"] = [list(s) for s in entry["constraints"]]
    if "partition_spec" in entry:
        # recluster rewrites WITHIN the current directories; a pending
        # spec declaration stays pending until a full rewrite migrates
        new_entry["partition_spec"] = list(entry["partition_spec"])
    _ren, _drp = _column_map(entry)
    if _ren:
        new_entry["renames"] = _ren
    if _drp:
        new_entry["dropped"] = _drp
    with _manifest_lock(root):
        prev = current_manifest(root)
        if prev["version"] != read_version:
            raise ConcurrentPublishError(
                f"store at version {prev['version']}, expected "
                f"{read_version} — another writer committed during the "
                "partition rewrite"
            )
        new_manifest = {
            "version": prev["version"] + 1,
            "txid": txid,
            "committed_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            "committed_at_unix": time.time(),
            "tables": {**prev["tables"], name: new_entry},
            **_history_fields(root, prev),
        }
        _commit(root, txid, new_manifest, based_on=prev["version"])
    after_groups: dict[str, list] = {}
    for e in _load_stats_entries(staged) or []:
        after_groups.setdefault(os.path.dirname(e["file"]), []).append(e)
    worst_after = {
        c: max(
            (
                _interval_overlap(_stat_intervals(es, c))
                for es in after_groups.values()
            ),
            default=1.0,
        )
        for c in by
    }
    return {
        **report,
        "reclustered": True,
        "version": new_manifest["version"],
        "overlap_after": max(worst_after.values(), default=1.0),
        "overlaps_after": worst_after,
        "partitions_rewritten": sorted(fragmented),
        "files_linked": files_linked,
    }


def maintain_store(
    spark: SparkSession,
    root: str,
    max_deltas: int = 8,
    max_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    bloom_columns: Mapping[str, Sequence[str]] | None = None,
    keep_versions: int | None = None,
    orphan_min_age_seconds: float = 24 * 3600,
    refresh_views: Sequence[Mapping] | None = None,
    recluster_specs: Mapping[str, Mapping] | None = None,
    topic_specs: Sequence[Mapping] | None = None,
    reader_lag_warn_versions: int | None = 1000,
    requeue_quarantine_policy: Mapping[str, Mapping] | None = None,
) -> dict:
    """One operational maintenance pass over the whole store — the
    scheduled job a 100 TB deployment runs nightly (Delta's OPTIMIZE +
    VACUUM pairing), built from the existing primitives:

    1. REFRESH maintained views — FIRST, so each view consumes the CDC
       chain while the history it needs still exists (run after vacuum,
       a pruned range would force full re-seeds).  With `refresh_views`
       omitted, every view DECLARED in the store
       (materialize.declare_view → `_VIEWS.json`) refreshes — the pass
       is self-contained, no caller-shipped specs; explicit specs of
       ``{"kind": "aggregate"|"join"|"topics"|"minhash"|"ivf"|"postings",
       **maintain_* kwargs}`` override, and ``refresh_views=()`` skips
       view refresh entirely;
    2. COMPACT every table whose merge-on-read delta log is deeper than
       `max_deltas`, or whose file count exceeds `max_files` (when set) —
       folding delta logs and small files back into target-size bases;
    3. RECLUSTER tables listed in `recluster_specs` ({name: {"by":
       [cols], "max_overlap": 4.0, ...}} — recluster kwargs) whose
       measured clustering_overlap exceeds their threshold — the
       metadata-gated OPTIMIZE;
    3b. RECENTER topic indexes listed in `topic_specs` (each
       ``{"corpus_table": name, **similarity.recenter_topics kwargs}``,
       normally including ``min_mean_csim``): the stored assignments'
       mean cosine-to-centroid is one small aggregation — evaluated
       every pass for free — and the O(corpus) k-means rebuild +
       atomic centroid/assignment republish runs only below the
       threshold, exactly the recluster gating applied to the
       incremental topic-maintenance loop (similarity.assign_to_index
       handles the per-ingest-batch half);
    4. rebuild the Bloom index for compacted/reclustered tables listed
       in `bloom_columns` (a rewrite sheds the sidecar, so the index
       follows the data);
    5. VACUUM to `keep_versions` (when set) and collect aged orphans;
    6. ALARM on stalled reader leases: any ACTIVE lease whose retention
       floor lags the current version by more than
       `reader_lag_warn_versions` is reported under
       ``reader_warnings`` — a live-but-stuck consumer renews its lease
       forever and pins unbounded history, which TTL expiry (built for
       DEAD consumers) never catches.  ``None`` disables the check;
    7. AUTO-REQUEUE quarantines: `requeue_quarantine_policy`
       maps MAIN table names to gates ``{"min_rows": 1,
       "min_age_seconds": 0.0}`` — when ``<name>__quarantine`` holds at
       least `min_rows` rows AND its last commit is at least
       `min_age_seconds` old (age-gating leaves a window for the
       constraint fix to land first), the pass runs requeue_quarantine:
       rows that now satisfy the constraints drain into the main table,
       still-bad rows re-divert, and the result lands under
       ``report["requeued"]`` — drained quarantines stop needing
       operator action.  Same per-table error isolation as every other
       step.

    Tables and views are processed independently; a failure on one is
    recorded and does not block the rest.  Returns
    {"views": {dst: result}, "compacted": {name: result},
    "reclustered": {name: result}, "topics": {assignments_table: result},
    "blooms": [names], "bloom_refreshed": {name: result},
    "reader_warnings": {name: usage row}, "vacuum", "orphans",
    "errors": {name: str}}.
    """
    # local import: materialize imports this module
    from dataintegration_ecomprovider_spark.plans import materialize

    report: dict = {
        "views": {}, "compacted": {}, "reclustered": {}, "topics": {},
        "blooms": [], "errors": {},
    }
    if refresh_views is None:
        declared = materialize.refresh_declared_views(spark, root)
        report["views"] = declared["views"]
        for dst, err in declared["errors"].items():
            report["errors"][f"view:{dst}"] = err
    elif refresh_views:
        for i, spec in enumerate(refresh_views):
            spec = dict(spec)
            kind = spec.pop("kind", None)
            dst = spec.get("dst", f"<spec {i}>")
            try:
                if kind == "aggregate":
                    report["views"][dst] = materialize.maintain_aggregate(
                        spark, root, **spec
                    )
                elif kind == "join":
                    report["views"][dst] = materialize.maintain_join(
                        spark, root, **spec
                    )
                elif kind == "topics":
                    from dataintegration_ecomprovider_spark.llm import (
                        similarity as _similarity,
                    )

                    report["views"][dst] = (
                        _similarity.maintain_topic_assignments(
                            spark, root, **spec
                        )
                    )
                elif kind == "minhash":
                    from dataintegration_ecomprovider_spark.llm import (
                        incremental as _incremental,
                    )

                    report["views"][dst] = (
                        _incremental.maintain_dedup_index(
                            spark, root, **spec
                        )
                    )
                elif kind == "ivf":
                    from dataintegration_ecomprovider_spark.llm import (
                        similarity as _similarity,
                    )

                    report["views"][dst] = _similarity.maintain_ivf_cells(
                        spark, root, **spec
                    )
                elif kind == "postings":
                    from dataintegration_ecomprovider_spark.llm import (
                        search as _search,
                    )

                    report["views"][dst] = _search.maintain_text_index(
                        spark, root, **spec
                    )
                else:
                    raise ValueError(
                        "view kind must be 'aggregate', 'join', 'topics', "
                        f"'minhash', 'ivf' or 'postings', got {kind!r}"
                    )
            except Exception as e:  # noqa: BLE001 — per-view isolation
                report["errors"][f"view:{dst}"] = f"{type(e).__name__}: {e}"
    manifest = current_manifest(root)
    rewritten: set[str] = set()
    for name in sorted(manifest["tables"]):
        entry = manifest["tables"][name]
        deltas = entry.get("deltas", []) if isinstance(entry, dict) else []
        stats = table_stats(root, name) or {}
        needs = len(deltas) > max_deltas or (
            max_files is not None
            and stats.get("num_files") is not None
            and stats["num_files"] > max_files
        )
        if not needs:
            continue
        try:
            report["compacted"][name] = compact(
                spark, root, name, target_file_bytes=target_file_bytes
            )
            rewritten.add(name)
        except Exception as e:  # noqa: BLE001 — per-table isolation
            report["errors"][name] = f"{type(e).__name__}: {e}"
    if recluster_specs:
        for name in sorted(recluster_specs):
            try:
                res = recluster(spark, root, name, **dict(recluster_specs[name]))
                report["reclustered"][name] = res
                if res.get("reclustered"):
                    rewritten.add(name)
            except Exception as e:  # noqa: BLE001 — per-table isolation
                report["errors"][f"recluster:{name}"] = f"{type(e).__name__}: {e}"
    if topic_specs:
        # local import: llm.similarity imports this module at call time
        from dataintegration_ecomprovider_spark.llm import similarity

        for spec in topic_specs:
            spec = dict(spec)
            corpus_table = spec.pop("corpus_table")
            key = spec.get("assignments_table", "topic_assignments")
            try:
                report["topics"][key] = similarity.recenter_topics(
                    spark, root, read_table(spark, root, corpus_table), **spec
                )
            except Exception as e:  # noqa: BLE001 — per-index isolation
                report["errors"][f"topics:{key}"] = f"{type(e).__name__}: {e}"
    # a rewrite sheds the data dir's bloom sidecar — rebuild AFTER both
    # compaction and re-clustering so the index follows the final layout;
    # tables NOT rewritten this pass get the incremental top-up instead,
    # so files appended since the last pass (MoR delta commits) join the
    # index at O(new files) cost, not O(table)
    if bloom_columns:
        for name in sorted(rewritten & set(bloom_columns)):
            try:
                write_bloom_sidecar(spark, root, name, list(bloom_columns[name]))
                report["blooms"].append(name)
            except Exception as e:  # noqa: BLE001 — per-table isolation
                report["errors"][f"bloom:{name}"] = f"{type(e).__name__}: {e}"
        report["bloom_refreshed"] = {}
        for name in sorted(set(bloom_columns) - rewritten):
            if name not in manifest["tables"]:
                continue
            try:
                res = refresh_bloom_sidecar(
                    spark, root, name, list(bloom_columns[name])
                )
                if res["mode"] != "noop":
                    report["bloom_refreshed"][name] = res
            except Exception as e:  # noqa: BLE001 — per-table isolation
                report["errors"][f"bloom:{name}"] = f"{type(e).__name__}: {e}"
    if keep_versions is not None:
        report["vacuum"] = vacuum(spark, root, keep_versions=keep_versions)
    report["orphans"] = collect_orphans(
        spark, root, min_age_seconds=orphan_min_age_seconds
    )
    if reader_lag_warn_versions is not None:
        report["reader_warnings"] = {
            name: row
            for name, row in store_usage(root)["readers"].items()
            if row["lag_versions"] > reader_lag_warn_versions
        }
    if requeue_quarantine_policy:
        report["requeued"] = {}
        now = time.time()
        for name in sorted(requeue_quarantine_policy):
            spec = dict(requeue_quarantine_policy[name] or {})
            min_rows = int(spec.get("min_rows", 1))
            min_age = float(spec.get("min_age_seconds", 0.0))
            qname = f"{name}__quarantine"
            try:
                if qname not in current_manifest(root)["tables"]:
                    continue
                backlog = (table_stats(root, qname) or {}).get("rows") or 0
                if backlog < min_rows:
                    continue
                if min_age > 0.0:
                    changed = _entry_last_changed_unix(root, qname)
                    if changed is not None and now - changed < min_age:
                        continue  # too fresh — give the fix time to land
                report["requeued"][name] = requeue_quarantine(
                    spark, root, name
                )
            except Exception as e:  # noqa: BLE001 — per-table isolation
                report["errors"][f"requeue:{name}"] = (
                    f"{type(e).__name__}: {e}"
                )
    # non-empty quarantine tables (constraint on_violation="quarantine")
    # are diverted-but-unresolved feed rows: surface their row counts so
    # the nightly pass is where an operator notices them piling up
    quarantines = {}
    for tname in current_manifest(root)["tables"]:
        if tname.endswith("__quarantine"):
            stats = table_stats(root, tname) or {}
            if stats.get("rows"):
                quarantines[tname] = stats["rows"]
    if quarantines:
        report["quarantines"] = quarantines
    return report


def store_usage(root: str) -> dict:
    """Pure-metadata storage audit of the whole store: per table —
    current-version bytes/files/rows (table_stats, delta-aware), delta
    log depth, and how many historical versions still reference bytes on
    disk; plus store totals including bytes held ONLY by history (the
    vacuum-reclaimable number an operator watches at 100 TB), and every
    ACTIVE reader lease with its retention floor, how many versions it
    lags the head, and how long since it last renewed — the signal that
    distinguishes a healthy consumer from a live-but-stalled one that
    renews forever while pinning unbounded history (TTL expiry only
    catches DEAD consumers).  Walks manifest + on-disk sizes, runs no
    Spark job."""
    manifest = current_manifest(root)
    tables: dict[str, dict] = {}
    live_paths: set[str] = set()
    for name, entry in manifest["tables"].items():
        stats = table_stats(root, name) or {}
        deltas = entry.get("deltas", []) if isinstance(entry, dict) else []
        paths = _entry_paths(entry)
        live_paths.update(paths)
        tables[name] = {
            "bytes": stats.get("bytes"),
            "rows": stats.get("rows"),
            "num_files": stats.get("num_files"),
            "num_deltas": len(deltas),
        }
        renames, dropped = _column_map(entry)
        if renames:
            tables[name]["renamed_columns"] = renames
        if dropped:
            # bytes still physically present until a rewrite purges them
            # (compact(materialize_mapping=True)) — the operator signal
            # for "we promised this data was dropped; schedule the purge"
            tables[name]["dropped_columns_pending_purge"] = dropped
    hist_paths: set[str] = set()
    for h in manifest.get("history", []):
        for entry in h["tables"].values():
            hist_paths.update(_entry_paths(entry))
    reclaimable = 0
    for p in hist_paths - live_paths:
        if os.path.isdir(p):
            reclaimable += sum(os.path.getsize(f) for f in _data_files(p))
    now = time.time()
    readers = {
        name: {
            "floor": lease["version"],
            "lag_versions": max(0, manifest["version"] - lease["version"]),
            "lease_age_seconds": (
                now - lease["renewed_at_unix"]
                if lease.get("renewed_at_unix") is not None
                else None
            ),
            "expires_in_seconds": lease["expires_at_unix"] - now,
        }
        for name, lease in active_reader_floors(root, now=now).items()
    }
    return {
        "version": manifest["version"],
        "num_versions": 1 + len(manifest.get("history", [])),
        "tables": tables,
        "history_only_bytes": reclaimable,
        "readers": readers,
    }


_OPS = {"=", "==", "<", "<=", ">", ">=", "in", "is_null", "is_not_null"}


def _comparable(a, b):
    """Coerce a (stat, predicate-value) pair onto one comparable axis, or
    (None, None) when they don't share one (→ keep the file)."""
    if isinstance(a, (int, float)) and not isinstance(a, bool) and isinstance(
        b, (int, float)
    ) and not isinstance(b, bool):
        return float(a), float(b)
    if isinstance(a, str):
        import datetime

        if isinstance(b, (datetime.datetime, datetime.date)):
            # mirror _stat_value's naive-UTC normalization
            if isinstance(b, datetime.datetime) and b.tzinfo is not None:
                b = b.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return a, b.isoformat()  # stats store temporals as ISO strings
        if isinstance(b, str):
            return a, b
        if isinstance(b, (int, float)) and not isinstance(b, bool):
            # partition-directory values are path strings; compare
            # numerically when both sides parse ("o_year=1995" vs 1995)
            try:
                return float(a), float(b)
            except ValueError:
                return None, None
    return None, None


# --- boolean predicate trees ------------------------------------------------
#
# The `where` algebra is a sequence of NODES, AND-combined at the top
# level (so the historical list-of-triples form is unchanged).  A node is
# either a leaf triple (col, op[, value]) or a composite
#     ("and", node, ...) | ("or", node, ...) | ("not", node)
# — the reference's multi-shop scoping emits exactly such disjunctions
# (OR of shop equality filters, src/EcomSourceReader.cs:175-183), which
# AND-only triples could not express (a full read + client-side filter).
# Every consumer — Spark Column, pyarrow pushdown, pandas residual mask,
# min/max file skipping, Bloom probes — evaluates the same tree, so data
# skipping still engages per disjunct.

_BOOL_OPS = {"and", "or", "not"}


def _is_composite(node) -> bool:
    """Composite boolean node vs leaf triple: composites start with a
    boolean-op string and every child is itself a node (list/tuple);
    a leaf's second element is an op STRING, so the shapes can't
    collide even for a column literally named "or"."""
    return (
        isinstance(node, (list, tuple))
        and len(node) >= 2
        and isinstance(node[0], str)
        and node[0].lower() in _BOOL_OPS
        and all(isinstance(c, (list, tuple)) for c in node[1:])
    )


def _norm_where(where) -> list:
    """Deep-normalize a predicate tree to nested plain lists — JSON- and
    pickle-friendly (the streaming source ships predicates through
    DataSource options and InputPartition tuples)."""
    out = []
    for node in where:
        if _is_composite(node):
            out.append([node[0].lower(), *_norm_where(node[1:])])
        else:
            out.append(list(node))
    return out


def _where_columns(where) -> set[str]:
    """Every column referenced anywhere in a predicate tree."""
    cols: set[str] = set()
    for node in where:
        if _is_composite(node):
            cols |= _where_columns(node[1:])
        else:
            cols.add(node[0])
    return cols


def _node_may_match(entry: dict, node) -> bool:
    """Conservative three-valued evaluation of one predicate node against
    a file's stats: False ONLY when the file provably holds no matching
    row.  NOT flips to the dual question — "could any row fail the
    inner predicate" — answered by _node_must_match."""
    if _is_composite(node):
        op = node[0].lower()
        if op == "and":
            return all(_node_may_match(entry, c) for c in node[1:])
        if op == "or":
            return any(_node_may_match(entry, c) for c in node[1:])
        return not all(_node_must_match(entry, c) for c in node[1:])  # not
    return _file_may_match(
        entry, node[0], node[1], node[2] if len(node) > 2 else None
    )


def _node_must_match(entry: dict, node) -> bool:
    """True ONLY when the stats prove EVERY row of the file matches the
    node (the certainty NOT needs: ¬p may match a file unless p must).
    False is always safe — it just keeps the file."""
    if _is_composite(node):
        op = node[0].lower()
        if op == "and":
            return all(_node_must_match(entry, c) for c in node[1:])
        if op == "or":
            return any(_node_must_match(entry, c) for c in node[1:])
        # ("not", a, b, ...) reads as ¬(a ∧ b ∧ ...):
        # must(¬x) = not may(x)
        return not all(_node_may_match(entry, c) for c in node[1:])
    col, op = node[0], node[1]
    value = node[2] if len(node) > 2 else None
    s = entry.get("stats", {}).get(col)
    if s is None:
        return False
    mn, mx, nulls = s
    rows = entry.get("rows")
    if op == "is_null":
        return nulls is not None and rows is not None and nulls == rows
    if nulls is None or nulls > 0:
        # any null row fails every other predicate form
        return False
    if op == "is_not_null":
        return True  # nulls == 0
    if mn is None or mx is None:
        return False
    if op == "in":
        return any(_node_must_match(entry, (col, "=", v)) for v in value)
    mn_c, v = _comparable(mn, value)
    mx_c, _ = _comparable(mx, value)
    if mn_c is None or mx_c is None:
        return False
    if op in ("=", "=="):
        return mn_c == v == mx_c
    if op == "<":
        return mx_c < v
    if op == "<=":
        return mx_c <= v
    if op == ">":
        return mn_c > v
    if op == ">=":
        return mn_c >= v
    return False


def _node_bloom_may_match(node, columns_meta, bitmaps: dict, rel: str) -> bool:
    """Bloom-filter evaluation of one node for one file: False only when
    the index proves no row can match.  Handles = / in leaves on indexed
    columns, descends through AND/OR (each disjunct probed separately),
    and abstains (True) on NOT — a Bloom filter proves absence, never
    the total presence ¬p would need."""
    if _is_composite(node):
        op = node[0].lower()
        if op == "and":
            return all(
                _node_bloom_may_match(c, columns_meta, bitmaps, rel)
                for c in node[1:]
            )
        if op == "or":
            return any(
                _node_bloom_may_match(c, columns_meta, bitmaps, rel)
                for c in node[1:]
            )
        return True  # not
    col, op = node[0], node[1]
    value = node[2] if len(node) > 2 else None
    colmeta = columns_meta.get(col)
    if colmeta is None or value is None or op not in ("=", "==", "in"):
        return True
    bm = bitmaps.get(col, {}).get(rel)
    if bm is None:
        return True  # file unknown to the index (e.g. all-null column)
    values = list(value) if op == "in" else [value]
    return any(
        _bitmap_may_contain(bm, colmeta["k"], colmeta["m"], v) for v in values
    )


def _bloom_probe_columns(where) -> set[str]:
    """Indexable columns a Bloom pass could consult: = / in leaves,
    excluding anything under NOT (bloom abstains there)."""
    cols: set[str] = set()
    for node in where:
        if _is_composite(node):
            if node[0].lower() in ("and", "or"):
                cols |= _bloom_probe_columns(node[1:])
        elif node[1] in ("=", "==", "in") and len(node) > 2:
            cols.add(node[0])
    return cols


def _file_may_match(entry: dict, col: str, op: str, value) -> bool:
    """Conservative skip decision: False ONLY when the file provably holds
    no matching row."""
    s = entry.get("stats", {}).get(col)
    if s is None:
        return True
    mn, mx, nulls = s
    rows = entry.get("rows")
    if op == "is_null":
        return nulls is None or nulls > 0
    all_null = nulls is not None and rows is not None and nulls == rows
    if op == "is_not_null":
        return not all_null
    if all_null:
        return False  # comparisons never match null
    if mn is None or mx is None:
        return True
    if op == "in":
        return any(_file_may_match(entry, col, "=", v) for v in value)
    mn_c, v = _comparable(mn, value)
    mx_c, _ = _comparable(mx, value)
    if mn_c is None or mx_c is None:
        return True
    if op in ("=", "=="):
        return mn_c <= v <= mx_c
    if op == "<":
        return mn_c < v
    if op == "<=":
        return mn_c <= v
    if op == ">":
        return mx_c > v
    return mx_c >= v  # ">="


def prune_files(root: str, name: str, where: Sequence[tuple]) -> tuple[list[str], int]:
    """(absolute paths of files that may match all predicates, total file
    count) for the current version of `name`.  Exposed separately so tests
    and operators can assert/observe skipping without reading data."""
    manifest = current_manifest(root)
    if name not in manifest["tables"]:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    entry = manifest["tables"][name]
    return _prune_entry(entry, _phys_where(entry, where))


def _prune_entry(entry, where: Sequence[tuple]) -> tuple[list[str], int]:
    """prune_files for an already-resolved manifest entry (any version)."""
    path = entry["path"] if isinstance(entry, dict) else entry
    entries = _load_stats_entries(path)
    if entries is None:
        total_files = _data_files(path)
        kept = list(total_files)
        total = len(total_files)
    else:
        kept = [
            os.path.join(path, e["file"])
            for e in entries
            if all(_node_may_match(e, p) for p in where)
        ]
        total = len(entries)

    # second pass: per-file Bloom filters (write_bloom_sidecar) prove
    # absence for = / in predicates (also inside OR/AND subtrees — each
    # disjunct is probed separately) that min/max ranges can't
    bloom_path = os.path.join(path, BLOOM_FILE)
    if kept and os.path.exists(bloom_path):
        with open(bloom_path, encoding="utf-8") as fh:
            bloom = json.load(fh)
        probe_cols = _bloom_probe_columns(where) & set(bloom["columns"])
        if probe_cols:
            rels = {f: os.path.relpath(f, path) for f in kept}
            bitmaps = {
                col: _load_bloom_bitmaps(path, bloom, col, set(rels.values()))
                for col in probe_cols
            }
            kept = [
                f
                for f in kept
                if all(
                    _node_bloom_may_match(p, bloom["columns"], bitmaps, rels[f])
                    for p in where
                )
            ]
    return kept, total


def _predicate_column(pred: tuple):
    if _is_composite(pred):
        op = pred[0].lower()
        children = [_predicate_column(c) for c in pred[1:]]
        if op == "and":
            out = children[0]
            for c in children[1:]:
                out = out & c
            return out
        if op == "or":
            out = children[0]
            for c in children[1:]:
                out = out | c
            return out
        out = children[0]  # ("not", a, b, ...) = ¬(a ∧ b ∧ ...)
        for c in children[1:]:
            out = out & c
        return ~out
    col, op, *rest = pred
    if op not in _OPS:
        raise ValueError(f"unsupported predicate op {op!r} (one of {sorted(_OPS)})")
    c = F.col(col)
    if op in ("=", "=="):
        return c == F.lit(rest[0])
    if op == "<":
        return c < F.lit(rest[0])
    if op == "<=":
        return c <= F.lit(rest[0])
    if op == ">":
        return c > F.lit(rest[0])
    if op == ">=":
        return c >= F.lit(rest[0])
    if op == "in":
        return c.isin(list(rest[0]))
    if op == "is_null":
        return c.isNull()
    return c.isNotNull()


def scan_table(
    spark: SparkSession,
    root: str,
    name: str,
    where: Sequence[tuple] = (),
) -> DataFrame:
    """Selective read with file-level data skipping: semantically identical
    to ``read_table(...).filter(<where>)``, but Spark is handed only the
    files whose recorded [min, max] ranges can satisfy every predicate —
    the rest are never listed, opened, or planned.

    `where` is a sequence of predicate NODES, AND-combined: each node is
    a ``(column, op, value)`` triple with
    op ∈ {=, ==, <, <=, >, >=, in, is_null, is_not_null}, or a nested
    boolean tree ``("or", node, ...)`` / ``("and", node, ...)`` /
    ``("not", node)`` — e.g. the reference's multi-shop scoping
    ``("or", ("shop", "=", "a"), ("shop", "=", "b"))``
    (src/EcomSourceReader.cs:175-183).  The same skipping-friendly
    algebra Delta evaluates against its file stats; min/max (and Bloom)
    skipping engages per disjunct, and NOT prunes a file only when the
    stats prove every row matches the negated predicate.  The predicates are ALSO applied as a Spark filter (residual
    rows inside kept files are still filtered, and Catalyst pushes the
    filter into the parquet scan for row-group skipping), so results are
    exact regardless of how coarse the file stats are.

    Tables published without stats fall back to a full read + filter.
    Note: a pruned scan reads by explicit file list, so bucket metadata
    does not survive — use read_table for merge-side reads that rely on
    bucketed co-location; scan_table targets selective analytics reads."""
    if not where:
        return read_table(spark, root, name)
    manifest = current_manifest(root)
    entry = manifest["tables"][name] if name in manifest["tables"] else None
    if entry is None:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    # predicates arrive in logical names; the stats/bloom sidecars and
    # the files carry physical ones
    return _logical_view(
        entry, _scan_entry(spark, entry, _phys_where(entry, where))
    )


def scan_table_at(
    spark: SparkSession,
    root: str,
    name: str,
    version: int,
    where: Sequence[tuple] = (),
) -> DataFrame:
    """scan_table against a HISTORICAL version: time travel with the same
    file-level data skipping (the stats/bloom sidecars live inside the
    immutable version directory, so they describe every version that
    references it).  `read_table_at(...).filter(...)` semantics; at 100 TB
    an audit query over last month's snapshot should open the dozen files
    that matter, not relist the snapshot."""
    tables = tables_at(root, version)
    if name not in tables:
        raise KeyError(f"table {name!r} absent at version {version}")
    entry = tables[name]
    if not where:
        return _logical_view(entry, _read_entry(spark, entry))
    return _logical_view(
        entry, _scan_entry(spark, entry, _phys_where(entry, where))
    )


def _where_condition(where: Sequence[tuple]):
    """AND of the predicate triples as one Spark Column."""
    cond = None
    for pred in where:
        c = _predicate_column(pred)
        cond = c if cond is None else (cond & c)
    return cond


def _scan_version_conformed(
    spark: SparkSession,
    root: str,
    name: str,
    version: int,
    where: Sequence[tuple],
) -> DataFrame:
    """scan_table_at that tolerates predicate columns the OLD version
    predates (filtered CDC across a schema evolution): an absent column
    reads as null, so comparison predicates match nothing — the same
    rows the widened diff would see.  CDC-internal: operates in PHYSICAL
    column space (`where` already translated by read_changes) and
    returns the physical frame — the caller maps to logical once, after
    the diff."""
    tables = tables_at(root, version)
    if name not in tables:
        raise KeyError(f"table {name!r} absent at version {version}")
    entry = tables[name]
    df = _read_entry(spark, entry)
    missing = _where_columns(where) - set(df.columns)
    if not missing:
        return _scan_entry(spark, entry, where)
    for c in missing:
        df = df.withColumn(c, F.lit(None))
    return df.filter(_where_condition(where))


def _scan_entry(spark: SparkSession, entry, where: Sequence[tuple]) -> DataFrame:
    """The pruned-read engine behind scan_table/scan_table_at, on an
    already-resolved manifest entry."""
    cond = _where_condition(where)
    path = entry["path"] if isinstance(entry, dict) else entry
    kept, total = _prune_entry(entry, where)
    if isinstance(entry, dict) and entry.get("deltas"):
        # merge-on-read: file stats prune only the BASE side (safe — a
        # pruned base row either can't match `cond` or is overridden by a
        # delta; the final filter re-checks every surviving row).  Delta
        # dirs replay in full UNLESS the Bloom index proves a dir holds
        # none of a KEY-column point probe's keys (_prune_delta_dirs;
        # refresh_bloom_sidecar keeps the index covering fresh deltas) —
        # the 100 TB needle lookup stops paying one open per delta commit.
        if any(
            _is_partial_delta(d)
            and set(d.get("set_cols") or []) & _where_columns(where)
            for d in entry["deltas"]
        ):
            # PARTIAL deltas overlaying a predicate column break the
            # base-pruning argument: a base row failing `cond` on its
            # stored values may PASS after the overlay, and its
            # non-overlaid columns exist only in the pruned file.  Read
            # the base unpruned (the final filter still applies); delta-
            # dir pruning stays safe (keys are never overlaid).
            kept, total = [], 0  # len(kept) == total → the no-skip path
        kept_deltas = _prune_delta_dirs(entry, path, where)
        if len(kept_deltas) != len(entry["deltas"]):
            entry = {**entry, "deltas": kept_deltas}
    if len(kept) == total:
        # no base file skipped (or no stats): the plain read keeps bucket/
        # partition metadata and still gets row-group skipping via the
        # pushed filter (entry may still carry a pruned delta list)
        return _read_entry(spark, entry).filter(cond)
    if not kept:
        # no BASE file can match: the base contributes nothing
        base = spark.read.parquet(path).filter(F.lit(False))
    else:
        base = spark.read.option("basePath", path).parquet(*kept)
    if isinstance(entry, dict) and entry.get("deltas"):
        return _apply_deltas(spark, base, entry).filter(cond)
    if isinstance(entry, dict) and entry.get("schema_json"):
        # all deltas pruned away: still present the widened logical schema
        from pyspark.sql.types import StructType

        base = _conform_to_schema(
            base, StructType.fromJson(json.loads(entry["schema_json"]))
        )
    return base.filter(cond)


def _zvalue_column(df: DataFrame, cols: Sequence[str], bits: int = 8):
    """Interleaved-bit Z-order key over `cols` (numeric / date / timestamp).

    Each column is linearly scaled to a `bits`-bit integer using its
    global [min, max] (one tiny aggregate — O(1) result on the driver),
    then the per-column bit patterns are interleaved so that sorting by
    the single Z value keeps rows close in EVERY clustered dimension at
    once, not just the leading one.  This is the OPTIMIZE ZORDER BY role:
    after a Z-clustered rewrite, file-level [min, max] stats are narrow on
    all clustered columns, so scan_table prunes on whichever of them the
    predicate touches — a lexicographic sort only ever prunes on the
    first.

    All row-side arithmetic is built-in Column expressions (codegen;
    `bits × len(cols)` shift/or terms — 16 for the common 2-column case).
    NULLs sort to cell 0.  Strings are rejected: hashing them would
    destroy the range locality that makes clustering work (same
    restriction rationale as Delta's type support list)."""
    if not 1 <= bits * len(cols) <= 63:
        raise ValueError("bits * len(cols) must fit in a signed long")
    numeric = {"int", "bigint", "smallint", "tinyint", "double", "float"}
    as_double = []
    for c in cols:
        dt = dict(df.dtypes).get(c)
        if dt is None:
            raise KeyError(f"cluster column {c!r} not in DataFrame")
        if dt in numeric or dt.startswith("decimal"):
            as_double.append(F.col(c).cast("double"))
        elif dt in ("date", "timestamp", "timestamp_ntz"):
            as_double.append(F.col(c).cast("timestamp").cast("double"))
        else:
            raise TypeError(
                f"cluster column {c!r} has type {dt}; Z-order needs a "
                "numeric, date, or timestamp column"
            )
    row = df.agg(
        *[f(e).alias(f"{which}_{i}")
          for i, e in enumerate(as_double) for which, f in (("mn", F.min), ("mx", F.max))]
    ).first()
    cells = float((1 << bits) - 1)
    z = F.lit(0).cast("long")
    for i, e in enumerate(as_double):
        mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
        if mn is None or mx is None or mx == mn:
            continue  # constant / all-null column contributes nothing
        scaled = F.floor((e - F.lit(mn)) / F.lit(mx - mn) * F.lit(cells))
        v = F.coalesce(
            F.greatest(F.lit(0), F.least(F.lit(int(cells)), scaled)), F.lit(0)
        ).cast("long")
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(v.bitwiseAND(F.lit(1 << b)), b * (len(cols) - 1) + i)
            )
    return z


def compact(
    spark: SparkSession,
    root: str,
    name: str,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: Sequence[str] | None = None,
    cluster_by: Sequence[str] | None = None,
    materialize_mapping: bool = False,
) -> dict:
    """Small-file compaction: rewrite `name`'s CURRENT version into
    target-size files and publish the rewrite atomically as a NEW version.
    Row-identical by construction — the rewrite is a plain re-write of the
    committed data, committed through the same manifest swap, so readers
    either see the old layout or the compacted one, never a mix.

    Why it exists: ``stream_into_store`` commits one version per
    micro-batch (streaming/incremental.py), so a continuously-fed table
    accumulates per-batch file counts without bound; at 100 TB the
    read-side file listing and per-file open cost become the bottleneck
    long before the data itself does.  Delta/Iceberg ship OPTIMIZE /
    rewriteDataFiles for exactly this; this is the versioned store's
    equivalent, safe to run concurrently with readers (old versions stay
    readable until vacuumed).

    Bucketed tables are re-written bucketed on the same keys and bucket
    count — one file per bucket — so the exchange-free merge path
    (merge_into(bucketed=True) / run_job(dest_bucketed=...)) survives
    compaction.  Plain tables coalesce (no shuffle) to
    max(1, ceil(bytes / target_file_bytes)) files, or `target_files` when
    given.

    `sort_by` CLUSTERS the rewrite (plain tables only): rows are
    range-repartitioned and sorted within partitions on those columns, so
    each output file covers a disjoint [min, max] range — after a
    clustered compact, scan_table predicates on the LEADING sort column
    skip all but the touched files, where append-order files each span
    the whole domain and skip nothing.  One extra range shuffle vs plain
    coalesce — paid once, amortized over every selective read after it.

    `cluster_by` is the multi-dimensional form (OPTIMIZE ZORDER BY role,
    mutually exclusive with sort_by): rows are ordered by an
    interleaved-bit Z value over the given numeric/temporal columns
    (_zvalue_column), so every clustered column ends up with narrow
    per-file [min, max] ranges and scan_table prunes on ANY of them —
    a lexicographic sort_by=[a, b] leaves b's ranges as wide as the
    domain in every file.  Same single range shuffle as sort_by.

    Passing sort_by/cluster_by/target_files against a BUCKETED or
    hive-PARTITIONED table raises ValueError instead of silently
    ignoring the request (the bucket hash / partition directories pin
    the layout); recluster() and maintain_store() pre-check and never
    hit it.

    The rewrite is row-identical by construction, and the commit records
    that as ``rewrite_of`` provenance on the new entry (see
    publish_tables): CDC reads and streaming tails bridge the O(delta)
    fast path straight across the compaction instead of falling back to
    a full two-version diff.  The provenance claim requires that nothing
    else committed between compact's read and its swap, so the commit is
    compare-and-swap-guarded and the whole rewrite RETRIES from a fresh
    read when a concurrent writer lands first (an unguarded swap would
    silently revert the concurrent commit — a lost update); the
    abandoned staging directory is swept by collect_orphans.

    `materialize_mapping=True` additionally folds a rename/drop column
    map (publish.rename_column / drop_column) into the fresh files:
    renamed columns are written under their logical names, dropped
    columns' bytes are physically PURGED (the privacy path), and the
    new entry carries no map.  Because the physical names change, this
    one rewrite does NOT claim rewrite_of provenance — a CDC span
    crossing it pays one honest full diff (correct: the states are
    value-identical, so it emits zero changes); spans after it
    fast-path again.  A no-op when the table has no map.

    Returns {"version", "files_before", "files_after", "bytes"}.
    """
    last_err: ConcurrentPublishError | None = None
    for _attempt in range(COMMIT_RETRIES):
        try:
            return _compact_once(
                spark, root, name,
                target_files=target_files,
                target_file_bytes=target_file_bytes,
                sort_by=sort_by, cluster_by=cluster_by,
                materialize_mapping=materialize_mapping,
            )
        except ConcurrentPublishError as e:
            last_err = e  # re-read the advanced version and retry
    raise last_err


def _compact_once(
    spark: SparkSession,
    root: str,
    name: str,
    target_files: int | None,
    target_file_bytes: int,
    sort_by: Sequence[str] | None,
    cluster_by: Sequence[str] | None,
    materialize_mapping: bool = False,
) -> dict:
    import math

    if sort_by and cluster_by:
        raise ValueError("sort_by and cluster_by are mutually exclusive")

    manifest = current_manifest(root)
    if name not in manifest["tables"]:
        raise KeyError(f"table {name!r} has no committed version under {root}")
    read_version = manifest["version"]
    entry = manifest["tables"][name]
    path = entry["path"] if isinstance(entry, dict) else entry
    # compact reads and rewrites in PHYSICAL column space and carries the
    # logical rename/drop map forward untouched — physical names stay
    # immutable, which is what keeps CDC's suffix composition and
    # rewrite_of bridging valid across the rewrite
    renames, dropped = _column_map(entry)
    cmap = None
    materialize = materialize_mapping and bool(renames or dropped)
    if (renames or dropped) and not materialize:
        cmap = {name: {"renames": renames, "dropped": dropped}}
        sort_by = [_phys_name(entry, c) for c in sort_by] if sort_by else sort_by
        cluster_by = (
            [_phys_name(entry, c) for c in cluster_by]
            if cluster_by
            else cluster_by
        )
    # materialize: read LOGICAL and write the logical names physically —
    # dropped bytes are purged, the map folds away.  The physical names
    # change, so this rewrite must NOT claim rewrite_of (CDC's suffix
    # composition unions physical delta files across a bridge and would
    # mix old and new names); sort/cluster columns stay logical.
    rw = None if materialize else {name: read_version}
    # the layout this compact will WRITE: a pending set_partition_spec
    # declaration wins over the base's recorded layout (compact is the
    # lazy migration point; a pending [] migrates to unpartitioned)
    if isinstance(entry, dict) and "partition_spec" in entry:
        parts_target = list(entry["partition_spec"])
    elif isinstance(entry, dict):
        parts_target = list(entry.get("partition_by") or [])
    else:
        parts_target = []
    if (sort_by or cluster_by or target_files is not None) and isinstance(
        entry, dict
    ) and (entry.get("bucket_keys") or parts_target):
        # bucketed rewrites are pinned to one-file-per-bucket on the
        # bucket hash, hive-partitioned rewrites to their directory
        # layout — silently ignoring the clustering request would report
        # success while changing nothing (and a metadata-gated recluster
        # loop would then pay a full rewrite every pass forever)
        pinned = (
            "bucket_keys" if entry.get("bucket_keys")
            else "partition_spec" if "partition_spec" in entry
            else "partition_by"
        )
        asked = (
            "sort_by" if sort_by
            else "cluster_by" if cluster_by else "target_files"
        )
        raise ValueError(
            f"table {name!r} layout is pinned by {pinned}; "
            f"{asked} cannot be honored by compact"
        )
    # count every referenced dir (base + merge-on-read deltas): compact
    # reads through _apply_deltas, so the rewrite folds deltas back into
    # a clean base and the new entry carries none
    files = [f for p in _entry_paths(entry) for f in _data_files(p)]
    total_bytes = sum(os.path.getsize(f) for f in files)

    df = _read_entry(spark, entry)
    if materialize:
        df = _logical_view(entry, df)
    if isinstance(entry, dict) and entry.get("bucket_keys"):
        # preserve the bucketed layout: same keys, same bucket count
        bkeys = list(entry["bucket_keys"])
        if materialize:
            bkeys = [renames.get(k, k) for k in bkeys]
        new_manifest = publish_tables(
            spark, {name: df}, root,
            bucket_keys={name: bkeys},
            num_buckets=int(entry["num_buckets"]),
            expected_version=read_version,
            rewrite_of=rw,
            column_map=cmap,
        )
    elif parts_target:
        # hive-partitioned (including a pending spec evolution): co-locate
        # each TARGET partition value's rows in one task so every
        # `col=val` directory compacts to ~one file; the spec itself
        # carries forward through publish_tables (_parts_for prefers a
        # pending declaration, which this rewrite folds away)
        parts = list(parts_target)
        if materialize:
            parts = [renames.get(p, p) for p in parts]
        new_manifest = publish_tables(
            spark, {name: df.repartition(*parts)}, root,
            expected_version=read_version,
            rewrite_of=rw,
            column_map=cmap,
            partition_by={name: parts} if materialize else None,
        )
    else:
        n = target_files or max(1, math.ceil(total_bytes / target_file_bytes))
        if cluster_by:
            z = _zvalue_column(df, list(cluster_by))
            out = (
                df.withColumn("__zorder", z)
                .repartitionByRange(n, "__zorder")
                .sortWithinPartitions("__zorder")
                .drop("__zorder")
            )
        elif sort_by:
            out = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
        else:
            out = df.coalesce(n)
        new_manifest = publish_tables(
            spark, {name: out}, root,
            expected_version=read_version,
            rewrite_of=rw,
            column_map=cmap,
        )

    new_entry = new_manifest["tables"][name]
    new_path = new_entry["path"] if isinstance(new_entry, dict) else new_entry
    return {
        "version": new_manifest["version"],
        "files_before": len(files),
        "files_after": len(_data_files(new_path)),
        "bytes": total_bytes,
    }


SYNC_FILE = "_SYNC.json"


def _sync_state(root: str) -> dict:
    return protocol_for(root).read_aux(root, SYNC_FILE) or {}


def _set_sync_state(root: str, key: str, value) -> None:
    """Atomically record one entry in the store's sync-state file
    (`_SYNC.json`) under the manifest lock — the shared watermark
    registry for incremental consumers (replication cursors, maintained
    views, topic indexes)."""
    _set_sync_states(root, {key: value})


def _set_sync_states(root: str, entries: Mapping) -> None:
    """_set_sync_state for several keys in ONE lock window and ONE file
    rewrite: a maintain pass advancing the parent view's watermark plus
    N companions is one logical update, so it takes one lock acquisition
    and one rewrite, not N+1."""
    if not entries:
        return
    with _manifest_lock(root):
        # copy before mutating: the protocol may serve the read from its
        # stat-keyed parse cache (commit_protocol._cached_json_doc)
        state = dict(_sync_state(root))
        state.update(entries)
        protocol_for(root).write_aux(root, SYNC_FILE, state)


class _MirrorConflict(ValueError):
    """Replica column layout can't be reconciled by metadata renames —
    replicate_table falls back to a full re-seed."""


def _mirror_column_map(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    name: str,
    last: int,
    src_version: int,
) -> list[str]:
    """Replay the source's logical rename/drop history between `last` and
    `src_version` onto the replica — as the same O(1) metadata commits,
    never a rewrite.  For each source physical column, its logical name
    at `last` is what the replica calls it (the replica seeds/syncs from
    logical reads); if the name moved, rename the replica's column; if
    the source dropped it, drop the replica's.  A source that
    materialized its map mid-span (fresh physical names) mirrors as a
    no-op — logical names are stable across a materialization.  Returns
    the operations applied (for tests/observability)."""
    try:
        src_now = tables_at(src_root, src_version).get(name)
        src_last = tables_at(src_root, last).get(name)
    except KeyError:
        return []  # last-synced version vacuumed: the seed fallback handles it
    dst_entry = current_manifest(dst_root)["tables"].get(name)
    if src_now is None or src_last is None or dst_entry is None:
        return []
    ren_now, drop_now = _column_map(src_now)
    ren_last, drop_last = _column_map(src_last)
    dst_logical = set(
        _logical_view(dst_entry, _read_entry(spark, dst_entry)).columns
    )
    applied: list[str] = []
    # Pending logical renames for the span: replica-name-at-`last` → name
    # now.  Applied to a FIXPOINT, not one pass: a rename whose target is
    # still occupied waits for the occupant's own rename to free the name
    # (chains a→b→c applied in dependency order).  When no rename can
    # progress but some are pending (a swap cycle a↔b, which the source
    # realized through its own temp names within the span), route one leg
    # through a replica-side temp name and continue — a single pass would
    # silently apply ZERO renames and let the next CDC sync upsert values
    # into the swapped columns.
    pending = [
        (ren_last.get(p, p), l_now)
        for p, l_now in ren_now.items()
        if ren_last.get(p, p) != l_now and ren_last.get(p, p) in dst_logical
    ]
    tmp_n = 0
    while pending:
        progressed = False
        for i, (src_name, dst_name) in enumerate(pending):
            if dst_name not in dst_logical:
                rename_column(spark, dst_root, name, src_name, dst_name)
                dst_logical.discard(src_name)
                dst_logical.add(dst_name)
                applied.append(f"rename:{src_name}->{dst_name}")
                pending.pop(i)
                progressed = True
                break
        if progressed:
            continue
        cyclic = [
            i for i, (_, dst_name) in enumerate(pending)
            if any(s == dst_name for s, _ in pending)
        ]
        if not cyclic:
            # target occupied by a column NOT renamed away in this span —
            # the replica diverged from the source's history; a metadata
            # mirror cannot reconcile it.  Signal the caller to re-seed
            # rather than silently skipping (which would let CDC corrupt
            # the occupied column).
            raise _MirrorConflict(
                f"cannot mirror renames onto replica table {name!r}: "
                f"target name(s) {sorted(d for _, d in pending)} occupied"
            )
        i = cyclic[0]
        src_name, dst_name = pending[i]
        tmp = f"__mirror_tmp_{tmp_n}"
        while tmp in dst_logical:
            tmp_n += 1
            tmp = f"__mirror_tmp_{tmp_n}"
        tmp_n += 1
        rename_column(spark, dst_root, name, src_name, tmp)
        dst_logical.discard(src_name)
        dst_logical.add(tmp)
        applied.append(f"rename:{src_name}->{tmp}")
        pending[i] = (tmp, dst_name)
    for p in drop_now:
        if p in drop_last:
            continue
        l_last = ren_last.get(p, p)
        if l_last in dst_logical:
            drop_column(spark, dst_root, name, l_last)
            dst_logical.discard(l_last)
            applied.append(f"drop:{l_last}")
    return applied


def replicate_table(
    spark: SparkSession,
    src_root: str,
    dst_root: str,
    name: str,
    keys: Sequence[str] | None = None,
    case_insensitive: bool = False,
    mor: bool = False,
) -> dict:
    """Incremental store-to-store replication: bring `name` in the replica
    store up to the source store's current version by shipping ONLY the
    CDC delta since the last sync (read_changes → apply_changes →
    publish), falling back to a full copy on first sync.

    `mor=True` makes the replica WRITE O(delta) as well: each sync
    commits the change set as a merge-on-read delta (merge_into_mor)
    instead of republishing the replica's full state — without it, a
    sync reads O(changes) but still rewrites O(replica).  Pair with a
    periodic compact() on the replica.  Requires exact-match keys (the
    MoR limitation).

    This is the cross-region/cross-cluster story at 100 TB: after the
    first seed, each sync moves O(changed rows), never the table — where
    the reference's model would re-run the full job against the second
    destination (src/EcomProvider.cs:937-966).  Sync state (last
    replicated source version per table) lives in `_SYNC.json` at the
    replica root and is committed AFTER the replica publish, so a crash
    between the two replays an idempotent delta (apply_changes upserts/
    deletes are idempotent on keys) rather than losing one.

    The replica is a normal versioned store: its tables are readable,
    time-travelable, compactable, and can themselves be replicated onward.
    Returns {"table", "from_version", "to_version", "mode"}.
    """
    src_version = current_manifest(src_root)["version"]
    if keys is None:
        keys = table_keys(src_root, name)
    state = _sync_state(dst_root)
    last = state.get(name)

    if last is not None and last != src_version:
        # mirror metadata-only rename/drop commits (publish.rename_column
        # / drop_column) the source took since the last sync: the CDC
        # feed arrives in the source's NEW logical names, and without the
        # mirror apply_changes would EVOLVE the replica into carrying
        # both the old column (stale values) and the new one — or fail
        # outright on a renamed key.  The replica knows each column by
        # the source's logical name AT the last-synced version, which
        # the version history still records.
        try:
            _mirror_column_map(
                spark, src_root, dst_root, name, last, src_version
            )
        except _MirrorConflict:
            # layout divergence a metadata mirror can't fix: re-seed from
            # the source's current state instead of silently skipping
            last = None

    if last is None:
        # first sync: seed with a full copy of the current source version
        df = read_table(spark, src_root, name)
        publish_tables(
            spark, {name: df}, dst_root,
            table_keys={name: list(keys)} if keys else None,
        )
        mode = "seed"
    elif last == src_version:
        return {
            "table": name, "from_version": last, "to_version": src_version,
            "mode": "noop",
        }
    else:
        if not keys:
            raise ValueError(
                f"incremental replication of {name!r} requires key columns"
            )
        delta = read_changes(
            spark, src_root, name, from_version=last, to_version=src_version,
            keys=keys, case_insensitive=case_insensitive,
        )
        if delta.limit(1).count() == 0:
            # the source advanced but this TABLE didn't change (another
            # table's publish bumped the version): advance the sync state
            # without rewriting the replica — a multi-table store would
            # otherwise pay O(table) per untouched table per sync
            mode = "empty"
        elif mor:
            if case_insensitive:
                raise ValueError("mor replication requires exact-match keys")
            data_cols = [
                c for c in delta.columns
                if c != "change_type" and not c.endswith("__old")
            ]
            # evolve: the span may have widened a column type or added
            # one at the source — the delta arrives in the source's NEW
            # schema, and conforming it DOWN to the narrow replica would
            # silently corrupt values past the narrow range.  The replica
            # follows the source's schema like every other aspect of the
            # mirror.
            merge_into_mor(
                spark, dst_root, name,
                staging=delta.filter(F.col("change_type") != "delete")
                .select(*data_cols),
                keys=keys,
                deletes=delta.filter(F.col("change_type") == "delete")
                .select(*keys),
                evolve_schema=True,
            )
            mode = "delta_mor"
        else:
            replica = read_table(spark, dst_root, name)
            new_state = apply_changes(
                replica, delta, keys, case_insensitive=case_insensitive
            )
            publish_tables(spark, {name: new_state}, dst_root)
            mode = "delta"

    os.makedirs(dst_root, exist_ok=True)
    # sync-state update is a read-modify-write of a shared file; the
    # helper takes the replica's commit lock so two concurrent
    # replicate_table calls (for DIFFERENT tables of one store) don't
    # lose each other's entries.  The data publish above already
    # released the same lock — no nesting.
    _set_sync_state(dst_root, name, src_version)
    return {
        "table": name, "from_version": last, "to_version": src_version,
        "mode": mode,
    }


def read_table_asof(
    spark: SparkSession, root: str, name: str, timestamp: float | str
) -> DataFrame:
    """TIMESTAMP AS OF time travel: read `name` as of the newest version
    committed at or before `timestamp` (unix seconds, or an ISO-8601
    string parsed as UTC).  Completes the Delta-parity pair with
    read_table_at's VERSION AS OF — the audit/repro question ("what did
    the table say when that model trained?") is usually asked in time,
    not version numbers.  Raises KeyError when no version that old
    survives (vacuumed or store younger than the timestamp)."""
    snap = snapshot(spark, root, timestamp=timestamp)
    if name not in snap._tables:
        raise KeyError(f"table {name!r} absent as of timestamp {timestamp!r}")
    return snap.table(name)


class StoreSnapshot:
    """A frozen, store-WIDE consistent view: every table read through one
    snapshot resolves against the SAME committed manifest version.

    This is the cross-TABLE guarantee single-table log formats (Delta,
    Iceberg, Hudi) cannot give — their version history stops at the table
    boundary, so "orders as of v12 with the customers those orders saw"
    needs out-of-band bookkeeping.  Here the manifest commits all tables
    together, so a snapshot is just a pinned table map: reads cost
    nothing extra, concurrent publishes are invisible, and a training
    run / audit / repro job can hold one snapshot for its whole lifetime.
    Vacuum is the one thing that can pull data out from under a
    long-lived pin (same contract as read_table_at) — `snapshot(...,
    reader="job-name")` closes that hazard by holding a TTL'd
    register_reader retention lease at the pinned version, released via
    `release()` / the context-manager exit and renewable mid-job with
    `renew()` for jobs outliving the default TTL."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        version: int,
        tables: dict,
        reader: str | None = None,
    ):
        self._spark = spark
        self.root = root
        self.version = version
        self._tables = tables
        self.reader = reader

    def renew(self, ttl_seconds: float = READER_DEFAULT_TTL) -> dict:
        """Re-lease the pin's retention floor (for jobs outliving the
        original TTL)."""
        if not self.reader:
            raise ValueError("snapshot was not created with reader=")
        return register_reader(self.root, self.reader, self.version, ttl_seconds)

    def release(self) -> None:
        """Drop the retention lease (idempotent); reads keep working as
        long as vacuum hasn't pruned the version."""
        if self.reader:
            unregister_reader(self.root, self.reader)
            self.reader = None

    def __enter__(self) -> "StoreSnapshot":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False

    def table_names(self) -> list[str]:
        return sorted(self._tables)

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            raise KeyError(
                f"table {name!r} absent at version {self.version} of {self.root}"
            )
        entry = self._tables[name]
        return _logical_view(entry, _read_entry(self._spark, entry))

    def scan(self, name: str, where: Sequence[tuple] = ()) -> DataFrame:
        """scan_table's pruned selective read, against the pinned version."""
        if name not in self._tables:
            raise KeyError(
                f"table {name!r} absent at version {self.version} of {self.root}"
            )
        entry = self._tables[name]
        if not where:
            return _logical_view(entry, _read_entry(self._spark, entry))
        return _logical_view(
            entry, _scan_entry(self._spark, entry, _phys_where(entry, where))
        )

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"StoreSnapshot({self.root!r}, version={self.version})"


def snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    timestamp: float | str | None = None,
    reader: str | None = None,
    ttl_seconds: float = READER_DEFAULT_TTL,
) -> StoreSnapshot:
    """Pin a store-wide consistent view: the current version (default), a
    specific committed `version`, or the newest version committed at or
    before `timestamp` (read_table_asof's resolution).  `reader=` names
    the pin as a register_reader retention lease so vacuum keeps the
    pinned version alive for the job's lifetime (use the snapshot as a
    context manager, or call `.release()`, when done)."""
    if version is not None and timestamp is not None:
        raise ValueError("pass version OR timestamp, not both")

    def _pinned(v: int, tables: dict) -> StoreSnapshot:
        if reader:
            register_reader(root, reader, v, ttl_seconds)
        return StoreSnapshot(spark, root, v, tables, reader=reader)
    if timestamp is not None:
        if isinstance(timestamp, str):
            import datetime

            ts = datetime.datetime.fromisoformat(
                timestamp.replace("Z", "+00:00")
            )
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=datetime.timezone.utc)
            cutoff = ts.timestamp()
        else:
            cutoff = float(timestamp)
        manifest = current_manifest(root)
        candidates = [
            (h["committed_at_unix"], h["version"], h["tables"])
            for h in manifest.get("history", [])
            if h.get("committed_at_unix") is not None
        ]
        if manifest.get("committed_at_unix") is not None:
            candidates.append(
                (manifest["committed_at_unix"], manifest["version"],
                 manifest["tables"])
            )
        eligible = [c for c in candidates if c[0] <= cutoff]
        if not eligible:
            # Spilled history is scanned ONLY when no inline candidate
            # qualifies.  Sound because spilled entries are STRICTLY
            # older than every inline one: _history_fields spills the
            # oldest prefix, and vacuum re-inlines the kept (newest)
            # tail while shedding all spill pointers — so re-spills
            # again take the oldest prefix.  Pinned through the full
            # spill → vacuum → re-spill cycle in
            # test_store_layout.test_snapshot_timestamp_resolution_
            # across_spill_inline_boundary; revisit if manifest surgery
            # ever interleaves spilled and inline ranges.
            for sp in manifest.get("history_spills", []):
                for h in _spilled_entries(root, sp):
                    if (
                        h.get("committed_at_unix") is not None
                        and h["committed_at_unix"] <= cutoff
                    ):
                        eligible.append(
                            (h["committed_at_unix"], h["version"], h["tables"])
                        )
        if not eligible:
            raise KeyError(
                f"no committed version of {root!r} at or before {timestamp!r}"
            )
        _, v, tables = max(eligible, key=lambda c: (c[0], c[1]))
        return _pinned(v, tables)
    if version is None:
        manifest = current_manifest(root)
        return _pinned(manifest["version"], manifest["tables"])
    return _pinned(version, tables_at(root, version))


# --- declarative publish expectations --------------------------------------
#
# Validator factories for publish_tables(validators=...): each returns a
# callable that inspects the RE-READ staged DataFrame and raises
# ValidationError to abort the whole publish (nothing becomes visible —
# the reference's transaction rollback, src/EcomProvider.cs:1072-1073;
# the declarative form is Delta Live Tables' expectations).  Each check is
# one aggregation job over the staged table; at 100 TB that is a scan, so
# gate expensive checks on the tables that need them.  Row-level
# quarantine (skip bad rows instead of failing) is the S7 operator
# (plans/read_queries.py quarantine_split) applied BEFORE publish; these
# are the table-level last line of defense.


def expect_not_null(*cols: str) -> Callable[[DataFrame], None]:
    """Fail the publish if any listed column holds a null."""

    def check(df: DataFrame) -> None:
        counts = df.select(
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols]
        ).first()
        bad = {c: counts[c] for c in cols if counts[c]}
        if bad:
            raise ValidationError(f"nulls in non-nullable columns: {bad}")

    return check


def expect_unique(*keys: str) -> Callable[[DataFrame], None]:
    """Fail the publish if the key columns do not uniquely identify rows."""

    def check(df: DataFrame) -> None:
        dup = (
            df.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            sample = {k: dup[0][k] for k in keys}
            raise ValidationError(
                f"duplicate key {sample} (count={dup[0]['count']}) on {list(keys)}"
            )

    return check


def expect_row_count(
    min_rows: int = 0, max_rows: int | None = None
) -> Callable[[DataFrame], None]:
    """Fail the publish outside [min_rows, max_rows] — the cheap sanity
    gate against an upstream bug emptying (or exploding) a feed."""

    def check(df: DataFrame) -> None:
        n = df.count()
        if n < min_rows:
            raise ValidationError(f"row count {n} < required minimum {min_rows}")
        if max_rows is not None and n > max_rows:
            raise ValidationError(f"row count {n} > allowed maximum {max_rows}")

    return check


def expect_values_in(col: str, allowed: Sequence) -> Callable[[DataFrame], None]:
    """Fail the publish if `col` holds a value outside `allowed` (nulls
    pass — combine with expect_not_null to forbid them)."""

    def check(df: DataFrame) -> None:
        bad = (
            df.filter(~F.col(col).isin(list(allowed)) & F.col(col).isNotNull())
            .select(col).limit(5).collect()
        )
        if bad:
            vals = [r[0] for r in bad]
            raise ValidationError(f"{col}: values outside allowed set: {vals}")

    return check


def expect_range(col: str, lo=None, hi=None) -> Callable[[DataFrame], None]:
    """Fail the publish if `col` falls outside [lo, hi] (either bound
    optional; nulls pass)."""

    def check(df: DataFrame) -> None:
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(col) < lo)
        if hi is not None:
            cond = cond | (F.col(col) > hi)
        bad = df.filter(cond).select(col).limit(5).collect()
        if bad:
            vals = [r[0] for r in bad]
            raise ValidationError(f"{col}: values outside [{lo}, {hi}]: {vals}")

    return check


def all_of(*validators: Callable[[DataFrame], None]) -> Callable[[DataFrame], None]:
    """Compose validators; the first failure aborts (publish is already
    all-or-nothing, so ordering only affects the error message)."""

    def check(df: DataFrame) -> None:
        for v in validators:
            v(df)

    return check


# --- persisted table constraints -----------------------------------------
#
# The expect_* validators above are per-call: the caller that forgets them
# publishes bad data.  set_constraints records them ON the table (manifest
# entry, like keys) so EVERY write path enforces them — publish_tables
# validates the staged full state, merge_into_mor validates the
# delta-sized staging — the Delta CHECK-constraint role: declare once,
# never trust call sites.

CONSTRAINT_KINDS = {"not_null", "unique", "values_in", "range", "row_count"}


def _constraint_validator(specs: Sequence[Sequence]):
    """Compose persisted constraint specs into one expect_*-backed
    validator.  `row_local=True` keeps only the checks that are sound on
    a DELTA (per-row properties); table-level checks (unique, row_count)
    need the full state and run on publish/compact paths."""
    checks = []
    for spec in specs:
        kind, args = spec[0], list(spec[1:])
        if kind == "not_null":
            checks.append(expect_not_null(*args))
        elif kind == "unique":
            checks.append(expect_unique(*args))
        elif kind == "values_in":
            checks.append(expect_values_in(args[0], args[1]))
        elif kind == "range":
            checks.append(expect_range(args[0], *args[1:]))
        elif kind == "row_count":
            checks.append(expect_row_count(*args))
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
    return all_of(*checks)


_ROW_LOCAL_CONSTRAINTS = {"not_null", "values_in", "range"}


def set_constraints(
    root: str, name: str, constraints: Sequence[Sequence],
    on_violation: str = "fail",
) -> dict:
    """Record declarative constraints on `name` — an O(1) metadata
    commit.  Each spec is a JSON-serializable list:
    ``["not_null", col, ...]``, ``["unique", key, ...]``,
    ``["values_in", col, [allowed...]]``, ``["range", col, lo, hi]``,
    ``["row_count", min, max]``.  Column names are LOGICAL (they follow
    rename_column automatically; dropping a constrained column is
    refused).  From this commit on, every publish_tables of the table
    validates the staged state and every merge_into_mor validates its
    delta-sized staging against the row-local subset (not_null /
    values_in / range) — a violating write aborts before anything
    becomes visible.  Value-preserving rewrites (compact/recluster)
    skip re-validation: they cannot introduce a violation and an
    O(table) re-check per nightly pass would be pure waste.  Pass an
    empty list to clear.  Returns the new manifest.

    ``on_violation="quarantine"`` changes the response of BOTH merge
    paths — merge_into_mor and the copy-on-write merge_into — to a
    ROW-LOCAL violation from abort to DIVERT: violating staging rows
    land in ``<name>__quarantine`` (same keys, plus a ``__violations``
    column naming the failed specs) and the clean rows merge normally —
    the store-level form of the reference's row-skipping sink
    (src/.../S7: skip bad rows, keep the feed flowing).  Table-level
    checks (unique / row_count) and plain full publish_tables still
    fail hard — there is no per-row provenance to divert there.  The quarantine commit lands as its
    own version immediately BEFORE the clean merge's — a crash between
    the two leaves the quarantine rows recorded and the clean rows
    unapplied; the retry re-merges both idempotently (key-based
    upserts)."""
    if on_violation not in ("fail", "quarantine"):
        raise ValueError(
            f"on_violation must be 'fail' or 'quarantine', got {on_violation!r}"
        )
    for spec in constraints:
        if not spec or spec[0] not in CONSTRAINT_KINDS:
            raise ValueError(
                f"constraint {spec!r}: kind must be one of "
                f"{sorted(CONSTRAINT_KINDS)}"
            )
    _constraint_validator(constraints)  # arg shapes fail fast, not at write

    def mutate(e: dict) -> None:
        if constraints:
            e["constraints"] = [list(s) for s in constraints]
            if on_violation == "quarantine":
                e["on_violation"] = "quarantine"
            else:
                e.pop("on_violation", None)
        else:
            e.pop("constraints", None)
            e.pop("on_violation", None)

    return _update_entry_meta(root, name, mutate)


def _constraint_condition(specs: Sequence[Sequence]):
    """One Spark Column: row satisfies every ROW-LOCAL spec.  The
    filterable twin of _constraint_validator, for quarantine splits."""
    cond = F.lit(True)
    for spec in specs:
        kind = spec[0]
        if kind == "not_null":
            for c in spec[1:]:
                cond = cond & F.col(c).isNotNull()
        elif kind == "values_in":
            # SQL CHECK semantics (and expect_values_in's): null passes
            cond = cond & F.coalesce(
                F.col(spec[1]).isin(list(spec[2])), F.lit(True)
            )
        elif kind == "range":
            c = F.col(spec[1])
            lo = spec[2] if len(spec) > 2 else None
            hi = spec[3] if len(spec) > 3 else None
            if lo is not None:
                cond = cond & F.coalesce(c >= F.lit(lo), F.lit(True))
            if hi is not None:
                cond = cond & F.coalesce(c <= F.lit(hi), F.lit(True))
    return cond


def _violation_labels(
    specs: Sequence[Sequence], label_specs: Sequence[Sequence] | None = None
):
    """Column: comma-joined labels of the row-local specs a row fails
    (for the quarantine table's __violations column).  `label_specs`:
    parallel specs (same order) whose first two elements name each label —
    lets a PHYSICAL-space frame be evaluated while labels cite the
    LOGICAL column names the caller declared constraints in."""
    parts = []
    for spec, lab in zip(specs, label_specs or specs):
        label = ":".join(str(a) for a in lab[:2])
        parts.append(
            F.when(~_constraint_condition([spec]), F.lit(label))
        )
    return F.concat_ws(",", *parts)


def requeue_quarantine(spark: SparkSession, root: str, name: str) -> dict:
    """Re-ingest ``<name>__quarantine`` through the standard merge path —
    the operational second half of quarantine routing: fix the data
    upstream or RELAX the constraint (set_constraints), then requeue.
    Rows that now satisfy the constraints merge into `name`; rows that
    still violate divert straight back to a FRESH quarantine (standard
    routing), so a partial fix drains exactly the rows it fixed and the
    backlog `maintain_store` reports shrinks truthfully.

    Crash contract: the quarantine frame is pinned (localCheckpoint)
    BEFORE the drop commit, so the drop → re-merge sequence is
    replay-safe — a crash in between leaves the rows recoverable by
    rollback, and a re-run after the merge is an idempotent key-based
    upsert.

    Returns {"requeued": n, "still_quarantined": m}."""
    qname = f"{name}__quarantine"
    manifest = current_manifest(root)
    if qname not in manifest["tables"]:
        return {"requeued": 0, "still_quarantined": 0}
    # pin content pre-drop; the pin is this call's own, freed once the
    # re-merge has committed (or failed) — nothing lazy escapes
    rows, pin_ids = runtime.local_checkpoint(
        read_table(spark, root, qname).drop("__violations")
    )
    try:
        n = rows.count()
        keys = table_keys(root, qname) or table_keys(root, name)
        drop_table(root, qname)
        merge_into_mor(spark, root, name, rows, keys=keys)
    finally:
        runtime.unpersist_rdd_ids(spark, pin_ids)
    still = 0
    if qname in current_manifest(root)["tables"]:
        still = read_table(spark, root, qname).count()
    return {"requeued": n - still, "still_quarantined": still}


def register_store(
    spark: SparkSession, root: str, prefix: str = "store_"
) -> list[str]:
    """Expose every table of the store's CURRENT version to Spark SQL as
    `<prefix><table>` temp views — `spark.sql("SELECT ... FROM
    store_orders")` over committed data with zero copying.  Views are a
    SNAPSHOT of the version at registration (each wraps this version's
    immutable files); re-register after a publish to advance.  Returns
    the view names created."""
    manifest = current_manifest(root)
    names = []
    for name in sorted(manifest["tables"]):
        view = f"{prefix}{name}"
        entry = manifest["tables"][name]
        _logical_view(entry, _read_entry(spark, entry)).createOrReplaceTempView(view)
        names.append(view)
    return names
