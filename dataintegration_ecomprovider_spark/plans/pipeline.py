"""Job pipeline — the reference's RunJob orchestration re-expressed
Spark-first (SURVEY §3.1, §2.7 E15-E17, §2.6 U1-U8).

The reference processes an ordered MappingCollection: normalize the plan
(OrderTablesInJob, src/EcomProvider.cs:819-920; implicit mapping completion
AddMappingsToJobThatNeedsToBeThereForMoveToMainTables,
src/EcomDestinationWriter.cs:3338-3561; virtual-column strip :3597-3689),
shape each source, stage, then merge per destination table inside one
transaction (src/EcomProvider.cs:1018-1036).

Spark-first shape: a MappingSpec is declarative config; shaping is a
DataFrame expression chain (never a row loop); the merge is the join-rewrite
algebra in operators/merge.py; atomicity (U12) is the stage-validate-swap
publisher in plans/publish.py (Spark has no cross-table transaction — the
manifest swap provides the same all-or-nothing visibility).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.catalog import Catalog
from dataintegration_ecomprovider_spark.operators import dedup, merge

# E15: the reference's fixed dependency order (OrderTablesInJob,
# src/EcomProvider.cs:819-920) — dimensions before facts before relations.
# Expressed over destination-table names; unknown tables sort last, stably.
TABLE_ORDER: tuple[str, ...] = (
    "languages", "countries", "currencies", "stock_locations",
    "region", "nation",              # fixture dimension analogs
    "groups", "manufacturers", "supplier", "customer",
    "variant_groups", "variant_options",
    "products", "part",
    "product_items", "products_related", "stock_units",
    "orders",
    "details", "category_field_values", "prices", "discounts",
    "assortments", "assortment_relations",
    "lineitem", "events",
    "variant_option_relations", "units", "unit_translations",
)


@dataclass(frozen=True)
class ColumnRule:
    """One column mapping (reference ColumnMapping): source expression →
    destination column, with the P7 script-transform enum folded into the
    expression builder (GetValue, src/EcomDestinationWriter.cs:4426-4451)."""

    dest: str
    source: str | None = None          # source column (None for constants)
    script: str = "none"               # none|constant|append|prepend|new_guid
    script_value: str = ""
    is_key: bool = False

    def expr(self) -> Column:
        if self.script == "constant":
            return F.lit(self.script_value)
        if self.script == "new_guid":
            return F.expr("uuid()")
        base = F.col(self.source if self.source is not None else self.dest)
        if self.script == "append":
            return F.concat(base.cast("string"), F.lit(self.script_value))
        if self.script == "prepend":
            return F.concat(F.lit(self.script_value), base.cast("string"))
        return base


@dataclass(frozen=True)
class RelationOutput:
    """A side-output derived from the shaped staging rows — the reference's
    relation buffers (EcomGroupProductRelation etc. appended while shaping,
    src/EcomDestinationWriter.cs:2699-2749) re-expressed as a transform:
    `derive(staged)` returns the relation rows; they merge into
    `dest_table` with the U9 relation-swap keyed on `match_keys`."""

    dest_table: str
    derive: Callable[[DataFrame], DataFrame]
    match_keys: tuple[str, ...]


@dataclass(frozen=True)
class MappingSpec:
    """Declarative source→destination mapping (the reference's Mapping)."""

    source_table: str
    dest_table: str
    columns: tuple[ColumnRule, ...]
    conditional: Column | None = None            # P2 mapping conditionals
    conditional_sql: str | None = None           # P2 parameterized: "{name}"
    #   placeholders resolve from run_job(params=...) — the reference's
    #   ReplaceMappingConditionalsWithValuesFromRequest (src/EcomProvider.cs:936)
    virtual_columns: tuple[str, ...] = ()        # E17: consumed pre-merge
    insert_new: bool = True                      # U3 mode matrix
    update_existing: bool = True
    remove_missing: bool = False                 # U5
    delete_incoming: bool = False                # U4: delete INSTEAD of merge
    discard_duplicates: bool = False             # E13b DiscardDuplicates option
    deactivate_flags: Mapping[str, Column] | None = None   # U7
    relation_outputs: tuple[RelationOutput, ...] = ()      # E5-E7 → U9
    # Duplicate-KEY handling before the upsert (distinct from
    # discard_duplicates, which only drops identical whole rows): the
    # reference dedups product PKs first-row-wins
    # (src/EcomDestinationWriter.cs:1269-1278) and errors on duplicate
    # subquery matches elsewhere (src/EcomProvider.cs:1052-1053).
    #   "first_wins" — deterministic one-row-per-key (default; order = the
    #                  non-key staged columns ascending, retry-stable);
    #   "error"      — abort with the offending keys (reference contract);
    #   "allow"      — pass through (caller guarantees uniqueness).
    on_duplicate_keys: str = "first_wins"
    # The reference matches keys under SQL Server's case-insensitive
    # collation everywhere (OrdinalIgnoreCase, EcomDestinationWriter.cs:50-52)
    case_insensitive_keys: bool = True

    def key_columns(self) -> tuple[str, ...]:
        return tuple(c.dest for c in self.columns if c.is_key)


def order_mappings(mappings: Sequence[MappingSpec]) -> list[MappingSpec]:
    """E15: sort mappings into the fixed dependency order; ties and unknown
    tables keep their input order (stable sort)."""
    rank = {t: i for i, t in enumerate(TABLE_ORDER)}
    return sorted(mappings, key=lambda m: rank.get(m.dest_table, len(TABLE_ORDER)))


def complete_mapping(spec: MappingSpec, dest_key_columns: Sequence[str]) -> MappingSpec:
    """E16: implicit mapping completion — destination key columns that the
    user did not map are auto-added as identity mappings and forced to
    IsKey (HandleIsKeyColumns, src/EcomDestinationWriter.cs:3575-3595)."""
    cols = list(spec.columns)
    have = {c.dest: i for i, c in enumerate(cols)}
    for k in dest_key_columns:
        if k in have:
            i = have[k]
            if not cols[i].is_key:
                cols[i] = ColumnRule(
                    dest=cols[i].dest, source=cols[i].source, script=cols[i].script,
                    script_value=cols[i].script_value, is_key=True,
                )
        else:
            cols.append(ColumnRule(dest=k, source=k, is_key=True))
    import dataclasses

    return dataclasses.replace(spec, columns=tuple(cols))


def shape(
    source: DataFrame,
    spec: MappingSpec,
    params: Mapping[str, str] | None = None,
) -> DataFrame:
    """Extract+shape: conditionals (P2, both Column and parameterized-SQL
    forms) then column rules (P1/P5/P7); merged duplicate destinations
    concatenate in mapping order (P8, GetMergedValue
    src/EcomDestinationWriter.cs:4453-4476); optional whole-row dedup over
    the mapped columns (E13b DiscardDuplicates,
    src/EcomDestinationWriter.cs:1176, src/EcomProvider.cs:989-990)."""
    df = source
    if spec.conditional is not None:
        df = df.filter(spec.conditional)
    if spec.conditional_sql is not None:
        df = df.filter(F.expr(spec.conditional_sql.format(**(params or {}))))
    by_dest: dict[str, list[Column]] = {}
    order: list[str] = []
    for rule in spec.columns:
        if rule.dest not in by_dest:
            by_dest[rule.dest] = []
            order.append(rule.dest)
        by_dest[rule.dest].append(rule.expr())
    projections = []
    for dest in order:
        exprs = by_dest[dest]
        # P8 merge skips null pieces (the reference's
        # IsColumnNullableAndValueNull → continue, then += over the rest,
        # src/EcomDestinationWriter.cs:1160-1175) — a null source must not
        # null the whole merged value, so coalesce each piece to ''.
        col = (
            exprs[0]
            if len(exprs) == 1
            else F.concat(*[F.coalesce(e.cast("string"), F.lit("")) for e in exprs])
        )
        projections.append(col.alias(dest))
    out = df.select(*projections)
    if spec.discard_duplicates:
        out = out.dropDuplicates()
    return out


def strip_virtual_columns(df: DataFrame, spec: MappingSpec) -> DataFrame:
    """E17: virtual list/pivot columns were consumed by the explode/relation
    derivation (E5-E7) and must not reach the merge column set
    (src/EcomDestinationWriter.cs:3597-3689)."""
    present = [c for c in spec.virtual_columns if c in df.columns]
    return df.drop(*present) if present else df


def merge_step(dest: DataFrame, staged: DataFrame, spec: MappingSpec) -> DataFrame:
    """One destination table's new state: the U1-U3 upsert matrix, then the
    U5/U7 missing-row handling, per the spec's mode flags.  U4
    delete-incoming REPLACES the merge entirely (the reference's either-or
    at src/EcomProvider.cs:1019-1021)."""
    keys = list(spec.key_columns())
    ci_keys = spec.case_insensitive_keys
    if spec.delete_incoming:
        return merge.delete_incoming(dest, staged, keys, case_insensitive=ci_keys)
    if keys and spec.on_duplicate_keys == "first_wins":
        # deterministic key-level dedup: staging rows sharing key values
        # must not fan out the matched update (reference PK dedup,
        # src/EcomDestinationWriter.cs:1269-1278)
        part = [merge._k(staged, k, ci_keys) for k in keys]
        order = [
            F.col(c) for c in staged.columns
            if c not in keys and not c.startswith("__k_")
        ]
        staged = dedup.first_wins(staged, part, order) if order else (
            staged.dropDuplicates(keys)
        )
    out = merge.upsert(
        dest, staged, keys,
        insert_new=spec.insert_new, update_existing=spec.update_existing,
        validate_unique=(spec.on_duplicate_keys == "error"),
        case_insensitive=ci_keys,
    )
    if spec.remove_missing:
        out = merge.remove_missing(out, staged, keys, case_insensitive=ci_keys)
    if spec.deactivate_flags:
        out = merge.deactivate_missing(
            out, staged, keys, dict(spec.deactivate_flags), case_insensitive=ci_keys
        )
    return out


def run_job(
    catalog: Catalog,
    dest_tables: Mapping[str, DataFrame],
    mappings: Sequence[MappingSpec],
    dest_keys: Mapping[str, Sequence[str]] | None = None,
    params: Mapping[str, str] | None = None,
    update_only_existing_tables: Sequence[str] = (),
    bucketed_staging: bool = False,
    staging_buckets: int = 32,
    staging_prefix: str | None = None,
    dest_bucketed: Sequence[str] = (),
    keep_norm_columns: bool = False,
) -> dict[str, DataFrame]:
    """The full RunJob pipeline: normalize (E15+E16), shape, strip
    virtuals (E17), merge per destination table — mappings staging into
    the same table apply in order against the evolving state (the
    reference's per-mapping MoveDataToMainTable loop,
    src/EcomDestinationWriter.cs:3165-3218).

    Staging is materialized ONCE per mapping, all mappings concurrently
    (a tracked localCheckpoint — the analog of the reference's bulk-load
    into a temp table, CreateTempTables,
    src/EcomDestinationWriter.cs:234-417); every consumer of a mapping's
    rows reads that one materialization.  Destination tables then fold
    concurrently, each from its own prior state and the staging; within
    a table, mappings and the relation outputs that target it apply in
    mapping order.  The first failure in mapping order raises.

    Scope contract: the checkpoints register in the caller's CURRENT
    runtime scope (worker threads included), and the returned states read
    them — a checkpoint cannot recompute once freed.  Consume (publish,
    collect, write) the returned states BEFORE releasing that scope or
    calling runtime.release_caches; run_job_on_store publishes before it
    returns.

    `update_only_existing_tables` is the reference's
    UpdateOnlyExistingProducts per-table override: inserts are skipped for
    just those destination tables (the mode matrix flips to
    update-existing-only for EcomProducts while other mappings keep their
    own modes, src/EcomProvider.cs:680-687,
    src/EcomDestinationWriter.cs:3295-3302).

    `bucketed_staging=True` is the scale path for the merge family: each
    mapping's staged rows are written as bucketed tables on the mapping's
    (normalized) key columns, and the destination is staged bucketed ONCE
    per table — the analog of the reference's temp tables keyed like
    their destination (CreateTempTables,
    src/EcomDestinationWriter.cs:234-417).  The first merge per table
    then runs with ZERO Exchange — join, first-wins dedup window,
    unique-key guard all read co-located buckets
    (tests/test_plan_shapes.py asserts this); later mappings into the
    same table shuffle only the evolving-state side (one Exchange — a
    shuffle is strictly cheaper than re-writing the whole table per
    mapping, which is why dest staging is once, not per-mapping; the
    staging side stays exchange-free).  Tables named in `dest_bucketed`
    skip even the initial dest staging — pass the tables you read from a
    bucketed publish (publish_tables(bucket_keys=...)), whose layout
    already matches.  Staging tables live under `staging_prefix` until
    the caller consumes the returned state and calls
    bucketing.drop_staging_tables (the reference drops temp tables on
    Close, :4167-4182).  The default prefix is UNIQUE PER RUN
    (stage_job_<hex>): a second run_job in the same session must not
    overwrite staging tables that a previous run's still-unconsumed lazy
    state DataFrames read (that would corrupt their results silently).
    Pass an explicit prefix only when you own its lifecycle — e.g. a
    serial re-run that has already consumed or dropped the previous
    run's staging.

    Returns {dest_table: new_state}; callers publish atomically via
    plans.publish (U12) — before releasing the scope, see above."""
    import dataclasses
    import uuid

    from dataintegration_ecomprovider_spark.operators import bucketing

    if staging_prefix is None:
        staging_prefix = f"stage_job_{uuid.uuid4().hex[:8]}"

    ordered = order_mappings(mappings)
    if dest_keys:
        ordered = [
            complete_mapping(m, dest_keys.get(m.dest_table, ())) for m in ordered
        ]
    if update_only_existing_tables:
        skip = set(update_only_existing_tables)
        ordered = [
            dataclasses.replace(m, insert_new=False) if m.dest_table in skip else m
            for m in ordered
        ]
    # shaping reads only the catalog, never the evolving state, so every
    # mapping stages at once; a checkpoint rather than a persist, because
    # the cut lineage hands each later plan a shallow scan to analyze
    def stage(spec: MappingSpec) -> DataFrame:
        shaped, ids = runtime.local_checkpoint(
            shape(catalog.table(spec.source_table), spec, params)
        )
        runtime.track_rdd_ids(ids)
        return shaped

    shaped_rows = runtime.map_concurrently(stage, ordered)

    # fold per destination table: a table's new state depends only on its
    # own prior state and the staging, so tables fold concurrently; within
    # a table the steps keep mapping order, each mapping's relation
    # outputs just before its own merge
    steps: dict[str, list[tuple[int, RelationOutput | None]]] = {}
    for i, spec in enumerate(ordered):
        for rel in spec.relation_outputs:
            steps.setdefault(rel.dest_table, []).append((i, rel))
        steps.setdefault(spec.dest_table, []).append((i, None))

    def fold(table: str) -> DataFrame:
        cur = dest_tables[table]
        dest_staged = table in dest_bucketed
        for i, rel in steps[table]:
            spec, shaped = ordered[i], shaped_rows[i]
            if rel is not None:
                # E5-E7: relation rows derive from the shaped staging
                # BEFORE the virtual columns are stripped (they are the
                # inputs being consumed), and land in their relation
                # table via the U9 swap.  A table bucket-staged by an
                # earlier mapping carries __k_ norm columns the freshly
                # derived relation rows don't have; strip them so the
                # swap's union aligns (the swap re-derives what it needs
                # for its own match keys)
                extra = [c for c in cur.columns if c.startswith("__k_")]
                if extra:
                    cur = cur.drop(*extra)
                cur = merge.relation_swap(
                    cur, rel.derive(shaped), list(rel.match_keys),
                    case_insensitive=spec.case_insensitive_keys,
                )
                continue
            staged = strip_virtual_columns(shaped, spec)
            keys = spec.key_columns()
            if bucketed_staging and keys:
                staged = bucketing.stage_for_merge(
                    catalog.spark, staged, keys,
                    f"{staging_prefix}_{i}_{table}_stg",
                    staging_buckets, spec.case_insensitive_keys,
                )
                if not dest_staged:
                    cur = bucketing.stage_for_merge(
                        catalog.spark, cur, keys,
                        f"{staging_prefix}_{i}_{table}_dst",
                        staging_buckets, spec.case_insensitive_keys,
                    )
                    dest_staged = True
            cur = merge_step(cur, staged, spec)
        return cur

    state: dict[str, DataFrame] = dict(dest_tables)
    state.update(zip(steps, runtime.map_concurrently(fold, steps)))
    if bucketed_staging and not keep_norm_columns:
        # the materialized norm-key columns are staging internals, not
        # destination schema.  keep_norm_columns=True retains them so a
        # case-insensitive-string-keyed destination can be PUBLISHED
        # bucketed on its __k_ columns (publish_tables bucket_keys) and
        # fed back through dest_bucketed on the next run — without them,
        # CI string keys fall back to one dest-side shuffle per job run
        # (numeric keys need no norm column and close the loop either way)
        state = {
            t: df.drop(*[c for c in df.columns if c.startswith("__k_")])
            for t, df in state.items()
        }
    return state


def run_job_on_store(
    catalog: Catalog,
    root: str,
    mappings: Sequence[MappingSpec],
    dest_keys: Mapping[str, Sequence[str]] | None = None,
    params: Mapping[str, str] | None = None,
    with_changes: bool = False,
    validators: Mapping[str, Callable] | None = None,
    refresh_views: bool = False,
    **run_job_kwargs,
) -> dict:
    """One reference job run against the VERSIONED STORE, end to end:
    read every destination table the mappings touch from the store's
    current version, run the full RunJob pipeline (E15-E17, shape, merge
    matrix), publish ALL resulting tables as ONE atomic version (the U12
    transaction envelope), and — with `with_changes=True` — hand back the
    run's CDC feed per table (what this job inserted/updated/deleted).

    Key metadata: per-table keys come from `dest_keys`, else from each
    mapping's key columns, else from the store's recorded keys
    (publish.table_keys); they are (re)recorded in the manifest on
    publish, so downstream read_changes/merge_into need no key arguments.

    Concurrency: the publish carries compare-and-swap on the version the
    job read; a concurrent writer landing first raises
    ConcurrentPublishError — re-running the job (idempotent by the merge
    algebra, the reference's own re-run model) is the retry.

    `validators` are publish expectations (publish.expect_* / all_of) per
    destination table: any failure aborts the WHOLE job's swap before a
    row becomes visible.

    `refresh_views=True` runs materialize.refresh_declared_views after
    the job's publish lands — the batch analog of
    stream_into_store(refresh_views=True): one job run leaves both the
    destination tables AND every declared derived view current.  A view
    refresh failure raises (the job's own swap has already committed;
    views refresh on the next pass from their recorded watermark, so
    nothing is lost or skipped).

    Returns {"manifest", "from_version", "to_version", "state",
    "changes" (name -> lazy CDC DataFrame; only with_changes=True),
    "views" (dst -> maintain result; only refresh_views=True)}.
    """
    from dataintegration_ecomprovider_spark.plans import publish

    spark = catalog.spark
    tables: list[str] = []
    for m in mappings:
        if m.dest_table not in tables:
            tables.append(m.dest_table)
        for rel in m.relation_outputs:
            if rel.dest_table not in tables:
                tables.append(rel.dest_table)

    keys_by_table: dict[str, list[str]] = {}
    for t in tables:
        if dest_keys and t in dest_keys:
            keys_by_table[t] = list(dest_keys[t])
            continue
        from_mapping = [
            list(m.key_columns()) for m in mappings
            if m.dest_table == t and m.key_columns()
        ]
        if from_mapping:
            keys_by_table[t] = from_mapping[0]
        else:
            stored = publish.table_keys(root, t)
            if stored:
                keys_by_table[t] = stored

    # pin ONE manifest version for every destination read: the CAS
    # publish below would reject a mixed read set anyway, but the pinned
    # snapshot makes the job's computation consistent by construction (a
    # concurrent publish landing mid-read can no longer hand different
    # tables different versions before the inevitable CAS failure)
    snap = publish.snapshot(spark, root)
    from_version = snap.version
    dest_tables = {t: snap.table(t) for t in tables}
    state = run_job(
        catalog, dest_tables, mappings,
        dest_keys=keys_by_table or None, params=params, **run_job_kwargs,
    )
    manifest = publish.publish_tables(
        spark, state, root,
        table_keys={t: k for t, k in keys_by_table.items()},
        expected_version=from_version,
        # publish expectations gate the whole job commit: a failing check
        # on any staged table aborts the swap, nothing becomes visible —
        # the declarative form of the reference's transaction rollback
        validators=validators,
    )
    out = {
        "manifest": manifest,
        "from_version": from_version,
        "to_version": manifest["version"],
        "state": state,
    }
    if refresh_views:
        from dataintegration_ecomprovider_spark.plans import materialize

        report = materialize.refresh_declared_views(spark, root)
        if report["errors"]:
            raise RuntimeError(
                f"declared-view refresh failed: {report['errors']}"
            )
        out["views"] = report["views"]
    if with_changes:
        out["changes"] = {
            t: publish.read_changes(
                spark, root, t, from_version, manifest["version"],
                keys=keys_by_table.get(t),
                case_insensitive=any(
                    m.case_insensitive_keys for m in mappings if m.dest_table == t
                ),
            )
            for t in tables
            if keys_by_table.get(t)
        }
    return out
