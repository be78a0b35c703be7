"""Incremental view maintenance (IVM): keep an aggregate table current
in O(changed rows) by consuming the versioned store's CDC feed, instead
of recomputing the aggregate from the full source per refresh.

The maintained view is ``GROUP BY <group_cols>`` with ``COUNT(*)`` and
``SUM(coalesce(col, 0))`` measures — the self-maintainable aggregate
family (counts and sums admit exact retraction; MIN/MAX do not, they
need a recompute on delete, which is why continuous-aggregate systems
draw the same line).  Each refresh:

1. reads ``read_changes(include_old=True)`` for the source's unconsumed
   version range;
2. turns every change row into ±contribution rows — an insert adds its
   values under its group, a delete subtracts under its OLD group, an
   update does both (so a row MOVING between groups adjusts both sides);
3. aggregates the contributions (one shuffle on the group columns —
   O(delta), never O(source)) and merges them into the aggregate table
   with a key-wise full-outer join, dropping groups whose count reaches
   zero;
4. publishes the new aggregate state as the next store version and
   records the consumed source version (same crash-safe ordering as
   replicate_table: data first, then state — a replayed delta would be
   wrong for IVM, so state here is committed in the same lock window
   right after the publish).

This is the TimescaleDB continuous-aggregate / materialized-view-
maintenance role; the reference's analog is re-running the whole
aggregation job per refresh (src/EcomProvider.cs:937-966).  The batch
rollup cascade (operators/temporal.py) recomputes from raw; this
maintains from deltas — at 100 TB the difference between touching the
changed rows and touching everything.

NULL semantics: sums treat NULL as 0 (the view's SUM column is
``SUM(COALESCE(col, 0))``); an all-null group therefore reads 0 where a
direct ``SUM`` would read NULL — document-level choice pinned in tests
and mirrored in every oracle.
"""

from __future__ import annotations

import concurrent.futures
import json
import os
import weakref
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.plans import publish

COUNT_COL = "cnt"


# --- shared change feeds ----------------------------------------------------
#
# A refresh pass that maintains SEVERAL views of one source (token
# postings + doc lengths over documents; an aggregate matview and its
# projection sibling over orders) would otherwise run one O(table)
# version diff + persist + count PER VIEW over the identical immutable
# span.  This memo shares the persisted feed and its count across
# maintainer CALLS, keyed on everything that shapes the feed plan — a
# hit serves a feed that is plan-identical (not merely row-identical) to
# what the caller would have built, so every downstream result is
# bit-identical by construction.  At 100 TB the diff is the dominant cost
# of a refresh pass; deduplicating it across views is the whole win.
#
# Safety: the version embeds the manifest ENTRY of the table at both span
# ends (its data paths carry globally unique txids), so a re-minted store
# at the same filesystem path can never hit a stale feed, and vacuum or
# compact under the store root drops its feeds (runtime.invalidate_path).
# The cache — not any job scope — owns the persists: evicted, superseded
# and dropped feeds are unpersisted, and runtime.release_caches() drains
# it, so bench reps and long-lived drivers start clean.  Declared views
# refresh concurrently, and a miss is single-flight: siblings asking for
# one span at the same moment wait for the first caller's diff.
SPAN_FEED_CACHE = runtime.KeyedCache(
    6, path=lambda slot: slot[1], release=lambda feed: feed[0].unpersist()
)


def span_change_feed(
    spark: SparkSession,
    root: str,
    src: str,
    from_version: int,
    to_version: int,
    keys: Sequence[str],
    include_old: bool = False,
    where=(),
) -> tuple[DataFrame, int]:
    """The PERSISTED CDC feed and its row count for one immutable version
    span of `src` — computed once per (span, feed shape) and shared by
    every maintainer refreshing a view of that source in the same pass,
    including maintainers asking concurrently (they wait for the one
    diff in flight).  Raises KeyError exactly where read_changes would
    (span end vacuumed / table absent), so callers keep their re-seed
    fallback unchanged.

    The span is identified by the pair of `src` MANIFEST ENTRIES at its
    ends, not the version numbers: sibling views watermark at slightly
    shifted versions (each view's own commits advance the store), but a
    span over which `src`'s entry did not move carries the identical
    feed.  That is safe because the diff plan is a pure function of the
    two entries: every data path an entry names is an immutable
    directory with a fresh txid, so equal entries denote equal table
    states.  An entry CAN recur at a later version — rollback re-commits
    an older version's table map verbatim — and a recurring entry still
    denotes the same state, so a hit stays exact.  `where`-scoped feeds
    also key on the raw versions (their scan resolution is
    version-addressed).  The slot is the feed shape — (session, store,
    source, keys, include_old, where shape) — and the span is its
    version, so a newer span of one shape supersedes the older one: the
    store advanced past it, no sibling will ask for it again, and every
    lingering persisted plan costs all later actions a CacheManager
    plan-comparison walk (plus executor storage at scale)."""
    ident = (
        json.dumps(
            publish.tables_at(root, from_version).get(src), sort_keys=True
        ),
        json.dumps(
            publish.tables_at(root, to_version).get(src), sort_keys=True
        ),
    )
    slot = (
        id(spark), os.path.realpath(root), src, tuple(keys),
        bool(include_old), repr(tuple(where)) if where else None,
    )
    span = (
        weakref.ref(spark), ident,
        (int(from_version), int(to_version)) if where else None,
    )

    def diff() -> tuple[DataFrame, int]:
        changes = publish.read_changes(
            spark, root, src, from_version=from_version,
            to_version=to_version, keys=list(keys),
            include_old=include_old, where=where,
        ).persist()
        return changes, changes.count()

    return SPAN_FEED_CACHE.get(slot, span, diff)


def _sum_alias(c: str) -> str:
    return f"sum_{c}"


def _min_alias(c: str) -> str:
    return f"min_{c}"


def _max_alias(c: str) -> str:
    return f"max_{c}"


def _hll_alias(c: str) -> str:
    return f"hll_{c}"


def _nncnt_alias(c: str) -> str:
    """Per-avg-column NON-NULL count: SQL AVG(c) excludes NULLs from both
    numerator and denominator, so avg_<c> = sum_<c> / nncnt_<c>, not
    sum_<c> / cnt (dividing by COUNT(*) would silently diverge from
    SELECT AVG(c) on nullable columns).  A non-null count is a sum
    of 0/1 indicators, so it rides the same ± delta algebra as sums."""
    return f"nncnt_{c}"


def estimate_distinct(df: DataFrame, distinct_cols: Sequence[str]) -> DataFrame:
    """Replace each maintained HLL sketch column with its BIGINT distinct
    estimate (the read-side of distinct_cols maintenance)."""
    out = df
    for c in distinct_cols:
        out = out.withColumn(
            f"approx_distinct_{c}", F.hll_sketch_estimate(F.col(_hll_alias(c)))
        ).drop(_hll_alias(c))
    return out


def derived_aggregate_columns(
    df: DataFrame,
    avg_cols: Sequence[str] = (),
    having: str | None = None,
) -> DataFrame:
    """Read-side overlay for an aggregate view: derive each
    avg_<c> = sum_<c> / nncnt_<c> (double division over exactly-maintained
    integer/decimal parts; NULL when the group has no non-null value —
    exactly SQL AVG) and apply the HAVING post-filter (canonical-column
    SQL text).  Pure projection + filter — no shuffle, no job."""
    out = df
    for c in avg_cols:
        out = out.withColumn(
            f"avg_{c}",
            F.when(
                F.col(_nncnt_alias(c)) > 0,
                F.col(_sum_alias(c)) / F.col(_nncnt_alias(c)),
            ),
        )
    if having:
        out = out.filter(having)
    return out


def read_aggregate_view(spark: SparkSession, root: str, dst: str) -> DataFrame:
    """The declared aggregate view `dst` in its READ form: the maintained
    physical table, plus per exact_distinct_cols column a null-safe
    group join against its maintained companion pair table (counting
    non-null values — exactly COUNT(DISTINCT c), an all-null group reads
    0), plus derived avg columns and the HAVING post-filter (which may
    reference cntd_<c> — it applies after the join).

    The parent table and every companion are read AT ONE captured
    manifest version: maintain_aggregate commits them atomically (one
    manifest swap), so any single version is internally consistent —
    independent current-version reads could straddle a commit landing
    between the two plan-time resolutions."""
    from dataintegration_ecomprovider_spark.plans import publish

    spec = declared_views(root).get(dst, {})
    at_version = publish.current_manifest(root)["version"]
    df = publish.read_table_at(spark, root, dst, at_version)
    group_cols = list(spec.get("group_cols", ()))
    for c in spec.get("exact_distinct_cols", ()):
        comp = publish.read_table_at(spark, root, f"{dst}__xd_{c}", at_version)
        dc = (
            comp.filter(F.col(c).isNotNull())
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).cast("bigint").alias(f"cntd_{c}"))
        )
        # struct equality is NULL-SAFE per field (same contract as the
        # maintenance merge join) — NULL group values must still match
        df = (
            df.withColumn("__gk", F.struct(*group_cols))
            .join(
                dc.withColumn("__gk", F.struct(*group_cols))
                .select("__gk", f"cntd_{c}"),
                "__gk", "left",
            )
            .drop("__gk")
            .withColumn(
                f"cntd_{c}", F.coalesce(F.col(f"cntd_{c}"), F.lit(0))
            )
        )
    return derived_aggregate_columns(
        df,
        avg_cols=spec.get("avg_cols", ()),
        having=spec.get("having"),
    )


def aggregate_table(
    df: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
    avg_cols: Sequence[str] = (),
    sum_exprs: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """The view definition, computed directly (seed / recompute oracle):
    COUNT(*) + SUM(coalesce(c, 0)) + MIN(c)/MAX(c) per group (MIN/MAX
    skip nulls, standard SQL) + an HLL sketch per distinct_cols column
    (Datasketches hll_sketch_agg; read estimates via estimate_distinct)
    + a non-null count per avg_cols column (COUNT(c) — the denominator
    SQL AVG actually uses; see _nncnt_alias) + SUM(<expr>) per
    sum_exprs ([(alias, row-local SQL expr)]) entry."""
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[
            F.sum(F.coalesce(F.col(c), F.lit(0))).alias(_sum_alias(c))
            for c in sum_cols
        ],
        *[F.min(F.col(c)).alias(_min_alias(c)) for c in min_cols],
        *[F.max(F.col(c)).alias(_max_alias(c)) for c in max_cols],
        *[
            F.hll_sketch_agg(F.col(c)).alias(_hll_alias(c))
            for c in distinct_cols
        ],
        *[
            F.count(F.col(c)).cast("bigint").alias(_nncnt_alias(c))
            for c in avg_cols
        ],
        *[
            F.sum(F.coalesce(F.expr(e), F.lit(0))).alias(a)
            for a, e in sum_exprs
        ],
    )


def apply_aggregate_delta(
    agg: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    change_col: str = "change_type",
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    source: DataFrame | None = None,
    distinct_cols: Sequence[str] = (),
    avg_cols: Sequence[str] = (),
    sum_exprs: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """Merge a read_changes(include_old=True) feed into an aggregate-table
    state: O(delta) contributions + one key-wise merge join.  Groups whose
    count reaches zero drop out (their sums are exactly retracted).

    MIN/MAX (`min_cols`/`max_cols`, `source` = the view's source at the
    TARGET version, required when either is set) are not retractable from
    the delta alone: inserts fold in cheaply (least/greatest against the
    stored extremum), but a RETRACTED value at or beyond the stored
    extremum forces that group's extremum to be recomputed — done with a
    semi-join of the source to ONLY the affected groups, so the recompute
    cost is O(rows of groups that lost an extremum), not O(source).  This
    is the textbook IVM treatment of non-self-maintainable aggregates.

    `distinct_cols` maintain per-group HLL sketches (approx distinct):
    inserts UNION into the stored sketch (sketch merge is cheap and
    order-independent); sketches admit no retraction at all, so ANY
    retraction touching a group forces that group's sketch recompute via
    the same scoped semi-join — the sketch analog of the MIN/MAX rule,
    with a coarser trigger (no "did it touch the extremum" test
    exists for a sketch).

    `sum_exprs` ([(alias, row-local SQL expr)]) maintain SUM(<expr>)
    EXACTLY through the same ± algebra — the expression is evaluated in
    the rowwise feed (over new column values for +, over the __old
    columns re-projected to their base names for −), so any arithmetic
    a row can compute locally is a maintainable sum."""
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    min_cols = list(min_cols)
    max_cols = list(max_cols)
    distinct_cols = list(distinct_cols)
    avg_cols = list(avg_cols)
    sum_exprs = [tuple(e) for e in sum_exprs]
    if (min_cols or max_cols or distinct_cols) and source is None:
        raise ValueError(
            "min/max/distinct maintenance needs the target-version source"
        )

    # +new contributions (insert + update), grouped by NEW group values
    pos = changes.filter(F.col(change_col) != "delete").select(
        *group_cols,
        F.lit(1).alias("__d_cnt"),
        *[F.coalesce(F.col(c), F.lit(0)).alias(f"__d_{c}") for c in sum_cols],
        *[
            F.col(c).isNotNull().cast("bigint").alias(f"__d_nn_{c}")
            for c in avg_cols
        ],
        *[
            F.coalesce(F.expr(e), F.lit(0)).alias(f"__d_{a}")
            for a, e in sum_exprs
        ],
    )
    # -old contributions (delete + update): re-project EVERY __old column
    # to its base name first, so group values, sum columns and arbitrary
    # sum EXPRESSIONS all evaluate over the retracted row's old state
    # with one rule (delete rows carry old values in BOTH the main and
    # __old columns)
    base_cols = [
        c for c in changes.columns
        if c != change_col and not c.endswith("__old")
    ]
    old_rows = changes.filter(F.col(change_col) != "insert").select(
        *[F.col(f"{c}__old").alias(c) for c in base_cols]
    )
    neg = old_rows.select(
        *group_cols,
        F.lit(-1).alias("__d_cnt"),
        *[
            (-F.coalesce(F.col(c), F.lit(0))).alias(f"__d_{c}")
            for c in sum_cols
        ],
        *[
            (-F.col(c).isNotNull().cast("bigint")).alias(f"__d_nn_{c}")
            for c in avg_cols
        ],
        *[
            (-F.coalesce(F.expr(e), F.lit(0))).alias(f"__d_{a}")
            for a, e in sum_exprs
        ],
    )
    delta = (
        pos.unionByName(neg)
        .groupBy(*group_cols)
        .agg(
            F.sum("__d_cnt").alias("__d_cnt"),
            *[F.sum(f"__d_{c}").alias(f"__d_{c}") for c in sum_cols],
            *[F.sum(f"__d_nn_{c}").alias(f"__d_nn_{c}") for c in avg_cols],
            *[F.sum(f"__d_{a}").alias(f"__d_{a}") for a, _ in sum_exprs],
        )
    )
    # All merge joins key on `__gk` = struct(<group cols>): struct join
    # equality is NULL-SAFE per field (verified: a NULL group value merges
    # instead of splitting into two rows), where joining on the raw group
    # columns would never match NULL groups across the full-outer join.
    def _gk(df: DataFrame) -> DataFrame:
        return df.withColumn("__gk", F.struct(*group_cols)).drop(*group_cols)

    delta = _gk(delta)
    non_self = bool(min_cols or max_cols or distinct_cols)
    if non_self:
        # non-self-maintainable bookkeeping: inserted values fold in
        # cheaply (least/greatest for extrema, sketch-union for HLL);
        # retracted values flag a per-group recompute — for extrema only
        # when they touch the stored extremum, for sketches on ANY
        # retraction of a non-null value
        ins_mm = _gk(
            changes.filter(F.col(change_col) != "delete").groupBy(
                *group_cols
            ).agg(
                *[F.min(F.col(c)).alias(f"__p_min_{c}") for c in min_cols],
                *[F.max(F.col(c)).alias(f"__p_max_{c}") for c in max_cols],
                *[
                    F.hll_sketch_agg(F.col(c)).alias(f"__p_hll_{c}")
                    for c in distinct_cols
                ],
            )
        )
        ret_src_cols = set(min_cols) | set(max_cols) | set(distinct_cols)
        ret_mm = _gk(
            changes.filter(F.col(change_col) != "insert").select(
                *[F.col(f"{g}__old").alias(g) for g in group_cols],
                *[F.col(f"{c}__old").alias(f"__rv_{c}") for c in ret_src_cols],
            ).groupBy(*group_cols).agg(
                *[F.min(f"__rv_{c}").alias(f"__r_min_{c}") for c in min_cols],
                *[F.max(f"__rv_{c}").alias(f"__r_max_{c}") for c in max_cols],
                *[
                    F.max(F.col(f"__rv_{c}").isNotNull()).alias(f"__r_hll_{c}")
                    for c in distinct_cols
                ],
            )
        )
        delta = delta.join(ins_mm, "__gk", "left").join(ret_mm, "__gk", "left")

    merged = _gk(agg).join(delta, "__gk", "full_outer")
    out_cols = [
        *[F.col(f"__gk.{g}").alias(g) for g in group_cols],
        (F.coalesce(F.col(COUNT_COL), F.lit(0))
         + F.coalesce(F.col("__d_cnt"), F.lit(0))).alias(COUNT_COL),
        *[
            (F.coalesce(F.col(_sum_alias(c)), F.lit(0))
             + F.coalesce(F.col(f"__d_{c}"), F.lit(0))).alias(_sum_alias(c))
            for c in sum_cols
        ],
        *[
            (F.coalesce(F.col(_nncnt_alias(c)), F.lit(0))
             + F.coalesce(F.col(f"__d_nn_{c}"), F.lit(0))).alias(
                 _nncnt_alias(c))
            for c in avg_cols
        ],
        *[
            (F.coalesce(F.col(a), F.lit(0))
             + F.coalesce(F.col(f"__d_{a}"), F.lit(0))).alias(a)
            for a, _ in sum_exprs
        ],
    ]
    if not non_self:
        return merged.select(*out_cols).filter(F.col(COUNT_COL) > 0)

    def _needs_min(c):
        return F.col(f"__r_min_{c}").isNotNull() & (
            F.col(_min_alias(c)).isNull()
            | (F.col(f"__r_min_{c}") <= F.col(_min_alias(c)))
        )

    def _needs_max(c):
        return F.col(f"__r_max_{c}").isNotNull() & (
            F.col(_max_alias(c)).isNull()
            | (F.col(f"__r_max_{c}") >= F.col(_max_alias(c)))
        )

    def _needs_hll(c):
        return F.coalesce(F.col(f"__r_hll_{c}"), F.lit(False))

    needs_any = F.lit(False)
    for c in min_cols:
        needs_any = needs_any | _needs_min(c)
    for c in max_cols:
        needs_any = needs_any | _needs_max(c)
    for c in distinct_cols:
        needs_any = needs_any | _needs_hll(c)
    affected = merged.filter(needs_any).select("__gk").distinct()
    recomputed = (
        source.withColumn("__gk", F.struct(*group_cols))
        .join(affected, "__gk", "left_semi")
        .groupBy("__gk")
        .agg(
            *[F.min(F.col(c)).alias(f"__rc_min_{c}") for c in min_cols],
            *[F.max(F.col(c)).alias(f"__rc_max_{c}") for c in max_cols],
            *[
                F.hll_sketch_agg(F.col(c)).alias(f"__rc_hll_{c}")
                for c in distinct_cols
            ],
        )
    )

    def _hll_merged(c):
        stored, part = F.col(_hll_alias(c)), F.col(f"__p_hll_{c}")
        return (
            F.when(stored.isNull(), part)
            .when(part.isNull(), stored)
            .otherwise(F.hll_union(stored, part))
        )

    out_cols += [
        F.when(_needs_min(c), F.col(f"__rc_min_{c}"))
        .otherwise(F.least(F.col(_min_alias(c)), F.col(f"__p_min_{c}")))
        .alias(_min_alias(c))
        for c in min_cols
    ] + [
        F.when(_needs_max(c), F.col(f"__rc_max_{c}"))
        .otherwise(F.greatest(F.col(_max_alias(c)), F.col(f"__p_max_{c}")))
        .alias(_max_alias(c))
        for c in max_cols
    ] + [
        F.when(_needs_hll(c), F.col(f"__rc_hll_{c}"))
        .otherwise(_hll_merged(c))
        .alias(_hll_alias(c))
        for c in distinct_cols
    ]
    return (
        merged.join(recomputed, "__gk", "left")
        .select(*out_cols)
        .filter(F.col(COUNT_COL) > 0)
    )


def maintain_aggregate(
    spark: SparkSession,
    root: str,
    src: str,
    dst: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    keys: Sequence[str] | None = None,
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
    src_where: Sequence[tuple] = (),
    avg_cols: Sequence[str] = (),
    having: str | None = None,
    sum_exprs: Sequence[tuple[str, str]] = (),
    exact_distinct_cols: Sequence[str] = (),
) -> dict:
    """Bring the aggregate table `dst` current with source table `src`
    (same store root): first call seeds with a full aggregation; later
    calls consume only the CDC delta since the version last reflected
    (recorded in the store's sync-state file under ``agg:<dst>``).

    `src_where` (scan_table's predicate algebra) maintains the aggregate
    OVER THE FILTERED SLICE of the source — one shop, one key range —
    composing the predicate-scoped CDC (read_changes(where=...)): the
    seed prunes its snapshot scan, every delta refresh diffs only the
    filtered view (a row updated into the slice arrives as an insert,
    out of it as a delete — exactly the retraction algebra the refresh
    already applies), and targeted MIN/MAX/distinct recomputes stay
    slice-scoped.  At 100 TB a per-tenant aggregate view costs the
    tenant's delta, never the table's.

    `avg_cols` / `having` are READ-SIDE contracts (read_aggregate_view;
    the SQL front-end overlays them on its temp views): an AVG(c) view
    physically maintains sum_<c> + cnt — the only self-maintainable form
    (an avg admits no delta algebra, its parts do) — and derives
    avg_<c> = sum_<c>/cnt at read time; `having` (canonical-column SQL
    text) post-filters the maintained table at read time, so groups
    moving in/out of the HAVING slice as counts evolve never touch the
    maintenance path.  Here they only guarantee every avg column's sum
    is maintained.

    `sum_exprs` ([(alias, row-local SQL expr)]) maintain SUM(<expr>)
    exactly — same ± delta algebra, the expression evaluates in the
    rowwise feed (see apply_aggregate_delta).  `exact_distinct_cols`
    maintain EXACT COUNT(DISTINCT c) as the declared alternative to the
    HLL sketch: each column gets a companion aggregate table
    ``<dst>__xd_<c>`` keyed by (group_cols, c) — itself fully
    self-maintainable through this same function — and the read side
    (read_aggregate_view) derives cntd_<c> by counting the companion's
    non-null values per group.  Storage is O(distinct pairs), every
    refresh is O(delta), and a read pays one aggregation over the
    companion — the honest exact-distinct cost; HLL stays the O(1)-read
    approximate choice.

    Returns {"dst", "from_version", "to_version", "mode"} — mode is
    "seed" | "delta" | "noop" | "empty".

    Atomicity: the parent table and every ``__xd``
    companion are planned against ONE captured manifest and made
    visible in ONE ``publish_tables`` commit — companion-then-parent
    as separate commits let a concurrent reader see cntd_<c> derived
    from a newer source version joined against stale parent groups."""
    # an AVG column is maintained through its sum + its NON-NULL count
    # (cnt is always kept; nncnt_<c> is the denominator SQL AVG uses)
    sum_cols = list(dict.fromkeys([*sum_cols, *avg_cols]))
    sum_exprs = [tuple(e) for e in sum_exprs]
    manifest = publish.current_manifest(root)
    src_version = manifest["version"]
    state = publish._sync_state(root)
    last = state.get(f"agg:{dst}")
    if keys is None:
        keys = publish.table_keys(root, src)

    def _src_at() -> DataFrame:
        # read the source AT the watermarked version, not at whatever is
        # current: a publish landing between the manifest capture above
        # and this scan would put version-N+1 data in the seed while the
        # watermark says N — the next delta refresh would re-apply the
        # N→N+1 delta and silently double-count
        return (
            publish.scan_table_at(spark, root, src, src_version, src_where)
            if src_where
            else publish.read_table_at(spark, root, src, src_version)
        )

    def _plan(name, g_cols, s_cols=(), mn=(), mx=(), dcols=(), acols=(),
              sexprs=()):
        """(new_state_df | None, mode) for one maintained table at the
        shared captured src_version — computes, never publishes."""
        tlast = state.get(f"agg:{name}")

        def _seed():
            return aggregate_table(
                _src_at(), g_cols, s_cols, min_cols=mn, max_cols=mx,
                distinct_cols=dcols, avg_cols=acols, sum_exprs=sexprs,
            ), "seed"

        def _schema_stale() -> bool:
            # a view seeded by an older engine/declaration can lack
            # maintained columns the current code expects (e.g. nncnt_<c>
            # for AVG) — a delta refresh against it would
            # fail analysis, and a silent pass-through would leave the
            # read side broken.  Force a re-seed instead (schema check is
            # plan-time, no job).  Only avg_cols (nncnt_<c>) and sum_exprs
            # introduced maintained columns after the original column set,
            # so plain count/sum/min/max/hll views skip the per-refresh
            # footer read entirely.
            if not (acols or sexprs):
                return False
            expected = {
                COUNT_COL,
                *[_sum_alias(c) for c in s_cols],
                *[_min_alias(c) for c in mn],
                *[_max_alias(c) for c in mx],
                *[_hll_alias(c) for c in dcols],
                *[_nncnt_alias(c) for c in acols],
                *[a for a, _ in sexprs],
            }
            # only the column NAMES matter here: read_schema answers
            # from a footer where it can and never caches a read
            return not expected <= set(
                publish.read_schema(spark, root, name).names
            )

        if tlast is None or name not in manifest["tables"] or _schema_stale():
            return _seed()
        if tlast == src_version:
            return None, "noop"
        if not keys:
            raise ValueError(
                f"incremental maintenance of {name!r} needs {src!r}'s key "
                "columns — publish with table_keys= or pass keys="
            )
        # the parent, its __xd companions, AND any other aggregate view
        # of the same source span (ctx counts after bigram counts)
        # consume ONE persisted change feed + count via the module-level
        # span memo: one version diff + one count
        # job per refresh pass instead of one per maintained table.  The
        # refresh plan reads `changes` up to four times (± contributions,
        # insert/retract bookkeeping), each of which would otherwise
        # re-evaluate the O(table) version diff.
        try:
            changes, n_changed = span_change_feed(
                spark, root, src, tlast, src_version, keys,
                include_old=True, where=src_where,
            )
        except KeyError:
            # the consumed-from version was vacuumed out of history:
            # the delta is unrecoverable, fall back to a full re-seed
            return _seed()
        if n_changed == 0:
            # the store advanced but `src` didn't (e.g. our own dst
            # publishes): advance the watermark, no rewrite
            return None, "empty"
        return apply_aggregate_delta(
            publish.read_table(spark, root, name), changes, g_cols, s_cols,
            min_cols=mn, max_cols=mx, distinct_cols=dcols, avg_cols=acols,
            sum_exprs=sexprs,
            source=_src_at() if (mn or mx or dcols) else None,
        ), "delta"

    # companions first in plan order: each is an ordinary aggregate view
    # of the same source grouped one level finer, with its own watermark
    plans = [
        (f"{dst}__xd_{c}", dict(g_cols=[*group_cols, c]))
        for c in exact_distinct_cols
    ]
    plans.append((dst, dict(
        g_cols=list(group_cols), s_cols=sum_cols, mn=list(min_cols),
        mx=list(max_cols), dcols=list(distinct_cols), acols=list(avg_cols),
        sexprs=sum_exprs,
    )))

    to_publish: dict[str, DataFrame] = {}
    modes: dict[str, str] = {}
    with runtime.job_scope() as scope:
        try:
            for name, kw in plans:
                df, modes[name] = _plan(name, **kw)
                if df is not None:
                    to_publish[name] = df
            if to_publish:
                publish.publish_tables(spark, to_publish, root)
        finally:
            # release even when the refresh raises — a chronically
            # failing view must not leak its persisted change feeds
            # every maintain pass (executor storage memory)
            scope.release(spark)
    publish._set_sync_states(
        root, {f"agg:{name}": src_version for name, _ in plans}
    )
    out = {"dst": dst, "from_version": last, "to_version": src_version,
           "mode": modes[dst]}
    if exact_distinct_cols:
        out["companions"] = {name: modes[name] for name, _ in plans[:-1]}
    return out


# --- join-view maintenance -------------------------------------------------
#
# The aggregate family above maintains GROUP BY views; this maintains the
# OTHER half of the reference's export surface — the fact-⋈-dimension view
# (every J1-J4/J9 export view is one) — so a changed dimension row re-derives
# only the fact rows that reference it, instead of re-running the whole
# export join per refresh (src/EcomProvider.cs:937-966).  The delta rule for
# a key-FK join specializes to a scoped recompute: the view is keyed by the
# fact keys (the dim key is unique, so joining never fans rows out), and a
# change anywhere can only alter view rows whose fact key is "affected":
#
#   affected = keys of changed fact rows
#            ∪ current fact rows whose FK references a changed dim key
#
# new_view = (view ∖ affected) ∪ (fact⟨affected⟩ ⋈ current dim) — an
# anti-join, a semi-join-scoped rebuild, and a union.  O(delta + affected)
# rows move; the only full-table touch is the FK membership probe against
# the current fact, which is a scan with a broadcast-eligible semi-join
# (no fact shuffle — AQE broadcasts the delta-sized key set) and benefits
# from the store's file skipping.  This is the classic counting/DRed IVM
# argument collapsed for the 1:N equi-join case.


def join_view(
    fact: DataFrame,
    dim: DataFrame,
    fk: str,
    dim_key: str | None = None,
    dim_cols: Sequence[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """The view definition, computed directly (seed / recompute oracle):
    ``fact ⋈ dim ON fact.fk = dim.dim_key`` carrying `dim_cols` (default:
    every dim column except the key).  `how` is ``left`` (FK optional —
    unmatched fact rows keep null dim columns) or ``inner``.

    `dim_key` MUST be unique in `dim` — the view stays keyed by the fact
    keys only under that contract (the J1-J4 dimension-join shape)."""
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    dim_key = dim_key or fk
    if dim_cols is None:
        dim_cols = [c for c in dim.columns if c != dim_key]
    clash = set(dim_cols) & set(fact.columns)
    if clash:
        raise ValueError(f"dim columns {sorted(clash)} collide with fact columns")
    dproj = dim.select(F.col(dim_key).alias("__jk"), *dim_cols)
    return fact.join(dproj, fact[fk] == F.col("__jk"), how).drop("__jk")


def _changed_dim_keys(dim_changes: DataFrame, dim_key: str,
                      change_col: str) -> DataFrame:
    """Distinct dim-key values whose row changed — NEW-side keys of
    inserts/updates plus OLD-side keys of updates/deletes (a dim row whose
    key itself changed affects fact rows referencing EITHER value).
    Requires the ``include_old=True`` diff columns."""
    old_col = f"{dim_key}__old"
    if old_col not in dim_changes.columns:
        raise ValueError(
            "dim_changes must carry include_old=True columns "
            f"(missing {old_col!r})"
        )
    new_side = dim_changes.filter(F.col(change_col) != "delete").select(
        F.col(dim_key).alias("__jk")
    )
    old_side = dim_changes.filter(F.col(change_col) != "insert").select(
        F.col(old_col).alias("__jk")
    )
    return (
        new_side.unionByName(old_side)
        .filter(F.col("__jk").isNotNull())
        .distinct()
    )


def _approx_row_bytes(schema) -> int:
    """Conservative static per-row width estimate for a key frame —
    fixed-width types by size, strings/binary/other at 48 bytes (Spark's
    own DEFAULT_SIZE_IN_BYTES ballpark for unbounded types), structs
    recursed.  Used to turn a broadcast ROW gate into a BYTE gate."""
    from pyspark.sql import types as T

    fixed = {
        T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4, T.LongType: 8,
        T.FloatType: 4, T.DoubleType: 8, T.BooleanType: 1, T.DateType: 4,
        T.TimestampType: 8,
    }

    def field_bytes(dt) -> int:
        if isinstance(dt, T.StructType):
            return sum(field_bytes(f.dataType) for f in dt.fields)
        return fixed.get(type(dt), 48)

    return max(8, sum(field_bytes(f.dataType) for f in schema.fields))


def apply_join_delta(
    view: DataFrame,
    fact_now: DataFrame,
    dim_now: DataFrame,
    fact_changes: DataFrame | None,
    dim_changes: DataFrame | None,
    fact_keys: Sequence[str],
    fk: str,
    dim_key: str | None = None,
    dim_cols: Sequence[str] | None = None,
    how: str = "left",
    change_col: str = "change_type",
    broadcast: bool | None = None,
    broadcast_max_bytes: int = 64 * 1024 * 1024,
    dim_changed_count: int | None = None,
) -> DataFrame:
    """Merge read_changes feeds for the fact and/or dim side into a
    join-view state (semantics documented on the section header above).
    Either changes frame may be None/absent when that side didn't move.

    Affected-key joins go through a ``struct(<fact keys>)`` key so the
    semi/anti joins match null key fields null-safely, same as the
    aggregate family's ``__gk`` merge key.

    Broadcasting is GATED, not forced (the dedup_clusters pattern):
    ``broadcast=None`` persists the affected-key set (registered in the
    current runtime scope — release via release_caches/job_scope; the
    persist also stops the affected-key subtree recomputing for its
    anti- and semi-join consumers), counts it, and hints F.broadcast
    only while ``count × estimated row width`` stays under
    `broadcast_max_bytes` — a BYTE gate, like the MoR fast path's
    MOR_BROADCAST_MAX_BYTES, because a row-count gate silently lets wide
    multi-column/string keys balloon to hundreds of driver-side MB.  A
    delta-sized refresh thus never shuffles the full fact table, while a
    pathological all-rows-changed refresh degrades to a shuffle join
    instead of blowing the broadcast limit.  True/False overrides the
    gate in either direction (skipping the persist+count).

    `dim_changed_count`: the dim change feed's
    row count when the caller already paid for it (maintain_join counts
    both feeds to decide the refresh mode).  Every change row
    contributes at most TWO changed dim keys (its new and its old
    value), so ``2 × dim_changed_count`` bounds the changed-dim-key set
    from above and the byte gate can decide from the bound — one fewer
    persist+count job per refresh, and the key set is consumed by
    exactly one semi-join, so the dropped persist bought no reuse.  The
    bound only ever declines a broadcast the exact count might have
    allowed (conservative in the safe direction).  Without it the gate
    falls back to the persist+count."""
    fact_keys = list(fact_keys)
    dim_key = dim_key or fk

    def _gate(keys: DataFrame, est_rows: int | None = None) -> DataFrame:
        if broadcast is None:
            if est_rows is not None:
                est = est_rows * _approx_row_bytes(keys.schema)
                return (
                    F.broadcast(keys) if est <= broadcast_max_bytes else keys
                )
            keys = runtime.track(keys.persist())
            est = keys.count() * _approx_row_bytes(keys.schema)
            return F.broadcast(keys) if est <= broadcast_max_bytes else keys
        return F.broadcast(keys) if broadcast else keys

    affected = None
    if fact_changes is not None:
        # delete rows carry old key values in the main columns, so one
        # projection covers inserted, updated and deleted fact keys
        affected = fact_changes.select(
            F.struct(*fact_keys).alias("__gk")
        ).distinct()
    if dim_changes is not None:
        dkeys = _gate(
            _changed_dim_keys(dim_changes, dim_key, change_col),
            est_rows=(
                2 * dim_changed_count
                if dim_changed_count is not None else None
            ),
        )
        via_dim = (
            fact_now.join(dkeys, fact_now[fk] == F.col("__jk"), "left_semi")
            .select(F.struct(*fact_keys).alias("__gk"))
            .distinct()
        )
        affected = via_dim if affected is None else (
            affected.unionByName(via_dim).distinct()
        )
    if affected is None:
        return view
    affected = _gate(affected)

    kept = (
        view.withColumn("__gk", F.struct(*fact_keys))
        .join(affected, "__gk", "left_anti")
        .drop("__gk")
    )
    scoped_fact = (
        fact_now.withColumn("__gk", F.struct(*fact_keys))
        .join(affected, "__gk", "left_semi")
        .drop("__gk")
    )
    rebuilt = join_view(scoped_fact, dim_now, fk, dim_key, dim_cols, how)
    return kept.unionByName(rebuilt.select(*kept.columns))


def maintain_join(
    spark: SparkSession,
    root: str,
    fact: str,
    dim: str,
    dst: str,
    fk: str,
    dim_key: str | None = None,
    dim_cols: Sequence[str] | None = None,
    how: str = "left",
    fact_keys: Sequence[str] | None = None,
    fact_where: Sequence[tuple] = (),
) -> dict:
    """Bring the join view `dst` = `fact ⋈ dim` current (same store root):
    first call seeds with the full join; later calls consume only the CDC
    deltas of BOTH sides since the version last reflected (recorded under
    ``join:<dst>`` in the store's sync-state file, the maintain_aggregate
    protocol).  A vacuumed-away delta range falls back to a full re-seed.

    `fact_where` maintains the view over a FILTERED fact slice
    (maintain_aggregate's src_where, on the fact side): the seed and
    every FK-membership probe read the fact through pruned scans, and
    the fact delta is the filtered view's CDC — rows entering/leaving
    the slice join in/out exactly once.  Dim-side predicates are not
    supported (a dim row's membership change would need the reverse FK
    probe the delta rule doesn't carry).

    Returns {"dst", "from_version", "to_version", "mode"} — mode is
    "seed" | "delta" | "noop" | "empty"."""
    state_key = f"join:{dst}"
    manifest = publish.current_manifest(root)
    src_version = manifest["version"]
    state = publish._sync_state(root)
    last = state.get(state_key)
    if fact_keys is None:
        fact_keys = publish.table_keys(root, fact)
    if not fact_keys:
        raise ValueError(
            f"join maintenance of {dst!r} needs {fact!r}'s key columns — "
            "publish with table_keys= or pass fact_keys="
        )
    dim_key = dim_key or fk

    def _seed() -> str:
        # seed AT the watermarked version (see maintain_aggregate._seed):
        # a concurrent publish between the manifest capture and this scan
        # must not leak into the seed, or the next refresh re-applies its
        # delta on top
        out = join_view(
            publish.scan_table_at(spark, root, fact, src_version, fact_where)
            if fact_where
            else publish.read_table_at(spark, root, fact, src_version),
            publish.read_table_at(spark, root, dim, src_version),
            fk, dim_key, dim_cols, how,
        )
        publish.publish_tables(
            spark, {dst: out}, root, table_keys={dst: list(fact_keys)}
        )
        return "seed"

    if last is None or dst not in manifest["tables"]:
        mode = _seed()
    elif last == src_version:
        return {"dst": dst, "from_version": last, "to_version": src_version,
                "mode": "noop"}
    else:
        try:
            fact_changes = publish.read_changes(
                spark, root, fact, from_version=last, to_version=src_version,
                keys=fact_keys, where=fact_where,
            )
            dim_changes = publish.read_changes(
                spark, root, dim, from_version=last, to_version=src_version,
                keys=[dim_key], include_old=True,
            )
        except KeyError:
            mode = _seed()
        else:
            # own scope: every persist below (the change feeds here, the
            # gated-broadcast key sets inside apply_join_delta) is fully
            # consumed once the publish materializes the refresh — free
            # them here instead of leaving them for the caller's
            # release_caches
            with runtime.job_scope() as scope:
                # persist the delta-sized change feeds ONCE: the moved
                # probes and the refresh plan read the cached delta,
                # where evaluating each consumer against the lazy diff
                # would recompute the O(table) version diff per use.
                # BOTH feeds count in ONE action (a tagged union
                # materializes both persisted feeds and returns both
                # counts in one job; two .count() calls would each pay a
                # job launch for nothing), and the dim
                # count feeds apply_join_delta's broadcast byte gate so
                # the changed-dim-key set needs no persist+count of its
                # own.
                try:
                    fact_changes = runtime.track(fact_changes.persist())
                    dim_changes = runtime.track(dim_changes.persist())
                    counts = {
                        r["__side"]: r["__n"]
                        for r in fact_changes.select(
                            F.lit("f").alias("__side")
                        ).unionByName(
                            dim_changes.select(F.lit("d").alias("__side"))
                        ).groupBy("__side").agg(
                            F.count(F.lit(1)).alias("__n")
                        ).collect()
                    }
                    n_fact = int(counts.get("f", 0))
                    n_dim = int(counts.get("d", 0))
                    fact_moved = n_fact > 0
                    dim_moved = n_dim > 0
                    if not fact_moved and not dim_moved:
                        mode = "empty"
                    else:
                        new_state = apply_join_delta(
                            publish.read_table(spark, root, dst),
                            publish.scan_table_at(
                                spark, root, fact, src_version, fact_where
                            )
                            if fact_where
                            else publish.read_table_at(
                                spark, root, fact, src_version
                            ),
                            publish.read_table_at(
                                spark, root, dim, src_version
                            ),
                            fact_changes if fact_moved else None,
                            dim_changes if dim_moved else None,
                            fact_keys, fk, dim_key, dim_cols, how,
                            dim_changed_count=n_dim if dim_moved else None,
                        )
                        publish.publish_tables(
                            spark, {dst: new_state}, root,
                            table_keys={dst: list(fact_keys)},
                        )
                        mode = "delta"
                finally:
                    # release even on a raising refresh — see
                    # maintain_aggregate for the leak this prevents
                    scope.release(spark)

    publish._set_sync_state(root, state_key, src_version)
    return {"dst": dst, "from_version": last, "to_version": src_version,
            "mode": mode}


def maintain_rowwise_view(
    spark: SparkSession,
    root: str,
    src: str,
    dst: str,
    build,
    dst_keys: Sequence[str],
    src_key: str | None = None,
    src_key_out: str | None = None,
    stable_keys: bool = False,
    state_key: str | None = None,
) -> dict:
    """Maintain `dst` as a PER-ROW derived view of `src`: `build(rows)`
    maps source rows to view rows (each output row derived from exactly
    ONE input row, carrying that row's key in column `src_key`), and
    this keeps dst current through the source's inserts, updates and
    deletes — the generic primitive behind the topics / dedup-index /
    IVF-cells maintainers, usable for any row-local derivation
    (featurization, token counts, fingerprints, chunk tables).

    Because the derivation is row-local, IVM collapses to per-key: a
    refresh re-runs `build` over ONLY the changed source rows and
    commits one merge-on-read delta — upserts for the new view rows,
    delete markers for view rows whose source row vanished.  Two delete
    strategies:

    - ``stable_keys=True`` (requires ``dst_keys == [src_key]``, at most
      one view row per source row): delete markers are the changed keys
      that produced NO output row (source deleted, or build dropped the
      row — e.g. text that shingles to nothing).  No view read at all.
    - ``stable_keys=False`` (general: variable fan-out like doc→chunks,
      composite dst_keys): old view keys for the changed source ids
      come from ONE scan of dst (semi-join against the broadcast
      delta-sized id set, data-skipping eligible), anti-joined against
      the new rows' keys — so an update that SHRINKS its fan-out
      retracts the excess rows a bare upsert would leave behind.

    `build` must not read other rows (no windows over the corpus, no
    joins between source rows); broadcast lookups against other tables
    are fine (the topics maintainer scores against broadcast
    centroids).  `build`'s OUTPUT COLUMN SET must also be
    data-independent (no pivot-without-values, no inferred-schema
    UDFs): the schema-drift fast path runs build over an empty relation
    and trusts its .columns — a data-dependent column set would make
    drift detection silently diverge from the full-plan check.
    `src_key_out` names the build-output/dst column that
    carries the source key when build renames it (default: same name).
    First call seeds dst from the source at the watermarked version;
    the watermark lives in the store sync-state under `state_key`
    (default ``rowwise:<dst>``).  Returns {"dst", "from_version",
    "to_version", "mode"} — "seed" | "delta" | "empty" | "noop"."""
    if src_key is None:
        keys = publish.table_keys(root, src)
        if not keys or len(keys) != 1:
            raise ValueError(
                f"maintain_rowwise_view needs {src!r}'s single key column —"
                " publish with table_keys= or pass src_key="
            )
        src_key = keys[0]
    out_key = src_key_out or src_key
    if stable_keys and list(dst_keys) != [out_key]:
        raise ValueError(
            "stable_keys=True requires dst_keys == [src_key_out] "
            f"(got {list(dst_keys)!r} vs {out_key!r})"
        )
    state_key = state_key or f"rowwise:{dst}"
    manifest = publish.current_manifest(root)
    src_version = manifest["version"]
    last = publish._sync_state(root).get(state_key)

    def _seed() -> str:
        out = build(publish.read_table_at(spark, root, src, src_version))
        publish.publish_tables(
            spark, {dst: out}, root, table_keys={dst: list(dst_keys)}
        )
        return "seed"

    def _dst_schema_stale() -> bool:
        # a view seeded by an older `build` can lack columns the current
        # build emits — committing the new build output as a MoR delta
        # against the old table would mismatch schemas.  Detect via
        # plan-time analysis (no job) and force a re-seed.
        #
        # Fast path: both sides of the name-set comparison come from
        # driver-side footer schemas — `build` runs over an EMPTY local
        # relation with the source's logical schema, so the check never
        # constructs (or analyzes) the full MoR read plan, which costs
        # ~0.5 s of py4j/Catalyst time per refresh.  Any trouble
        # (partitioned entry, footer miss, build analysis error on the
        # empty frame) falls back to the original full-plan check, which
        # remains the source of truth.
        src_schema = publish.table_schema(root, src)
        dst_cols = set(publish.read_schema(spark, root, dst).names)
        if src_schema is not None:
            try:
                expected = set(
                    build(spark.createDataFrame([], src_schema)).columns
                )
                return not expected <= dst_cols
            except Exception:
                pass
        expected = set(
            build(publish.read_table_at(spark, root, src, src_version)).columns
        )
        return not expected <= dst_cols

    if last is None or dst not in manifest["tables"]:
        mode = _seed()
    elif _dst_schema_stale():
        mode = _seed()
    elif last == src_version:
        return {"dst": dst, "from_version": last, "to_version": src_version,
                "mode": "noop"}
    else:
        try:
            # shared span feed: a sibling view of the same
            # source span (doc lengths after token postings) reuses this
            # persisted diff + count instead of re-running the O(table)
            # version diff per view
            changes, n_changed = span_change_feed(
                spark, root, src, last, src_version, [src_key],
            )
        except KeyError:
            mode = _seed()  # consumed-from version vacuumed: re-seed
        else:
            with runtime.job_scope() as scope:
                try:
                    if n_changed == 0:
                        mode = "empty"
                    else:
                        import math

                        # size the delta write by the change count we just
                        # paid for: a small refresh lands as ONE delta file
                        # instead of one near-empty file per shuffle
                        # partition — at 100 TB the MoR read replays every
                        # delta file, so per-refresh file count is read
                        # amplification.  coalesce never raises parallelism,
                        # so big batches keep their partitions.
                        nparts = max(1, math.ceil(n_changed / 500_000))
                        new_rows = runtime.track(
                            build(
                                changes.filter(
                                    F.col("change_type") != "delete"
                                ).drop("change_type")
                            )
                            .coalesce(nparts)
                            .persist()
                        )
                        changed_keys = changes.select(
                            F.col(src_key).alias(out_key)
                        ).distinct()
                        if stable_keys:
                            deletes = changed_keys.join(
                                new_rows.select(out_key), out_key, "left_anti"
                            )
                        else:
                            deletes = (
                                publish.read_table(spark, root, dst)
                                .join(F.broadcast(changed_keys), out_key,
                                      "left_semi")
                                .select(*dst_keys)
                                .join(new_rows.select(*dst_keys),
                                      list(dst_keys), "left_anti")
                            )
                        publish.merge_into_mor(
                            spark, root, dst, new_rows,
                            keys=list(dst_keys), deletes=deletes,
                        )
                        mode = "delta"
                finally:
                    scope.release(spark)
    publish._set_sync_state(root, state_key, src_version)
    return {"dst": dst, "from_version": last, "to_version": src_version,
            "mode": mode}


# --- declared views: view definitions persisted in the store ---------------
#
# The jobspec precedent (plans/jobspec.py — job definitions as files)
# applied to maintained views: a view's definition is declared ONCE into
# the store root (`_VIEWS.json`, manifest-lock guarded like the sync
# state), and every later maintenance pass — refresh_declared_views here,
# or publish.maintain_store with no explicit specs — refreshes ALL
# declared views without the caller re-shipping definitions.  This is what
# makes the nightly policy pass self-contained: the store carries both its
# data AND the derived-view contracts over it.

VIEWS_FILE = "_VIEWS.json"


def declare_view(root: str, kind: str, **spec) -> dict:
    """Persist a view definition under the store root.  `kind` is
    ``aggregate`` (maintain_aggregate kwargs), ``join`` (maintain_join
    kwargs), ``topics`` (similarity.maintain_topic_assignments kwargs —
    the CDC-maintained topic-assignment view) or ``minhash``
    (incremental.maintain_dedup_index kwargs — the CDC-maintained
    MinHash signature index; its companion bands table follows dst in
    the same refresh), ``ivf`` (similarity.maintain_ivf_cells kwargs
    — the CDC-maintained ANN cell table) or ``postings``
    (search.maintain_text_index kwargs — the CDC-maintained inverted
    text index), ``doc_lengths`` / ``term_df`` (the other two BM25
    statistics — search.maintain_doc_lengths / maintain_term_df; term_df
    chains off the postings table, so declaring all three gives the full
    ranked-search stack one dependency-ordered refresh), ``shingles``
    (curation.maintain_corpus_shingles kwargs — a (hash, id) shingle
    index of any text table; used for both the corpus and benchmark
    sides), ``contamination`` (curation.maintain_contamination kwargs
    — the per-doc decontamination view over BOTH shingle indexes),
    ``pq_codes`` (similarity.maintain_pq_codes kwargs — the
    CDC-maintained flat-PQ code table) or ``ivfpq``
    (similarity.maintain_ivfpq_codes kwargs — the CDC-maintained
    composed IVF+PQ code table) or ``projection``
    (maintain_projection kwargs — a per-row selectExpr view);
    `spec` must include ``dst``
    (the view's table name, also its registry key).  Re-declaring a dst
    overwrites its spec.  Returns the full declared-view registry."""
    kinds = (
        "aggregate", "join", "topics", "minhash", "ivf", "postings",
        "doc_lengths", "term_df", "shingles", "contamination",
        "pq_codes", "ivfpq", "projection",
    )
    if kind not in kinds:
        raise ValueError(
            f"view kind must be one of {kinds}, got {kind!r}"
        )
    if "dst" not in spec:
        raise ValueError("a declared view needs a dst table name")
    with publish._manifest_lock(root):
        views = declared_views(root)
        views[spec["dst"]] = {"kind": kind, **spec}
        _view_refresh_order(views)  # reject dependency cycles at declare time
        tmp = os.path.join(root, VIEWS_FILE + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(views, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(root, VIEWS_FILE))
    return views


def drop_view_declaration(root: str, dst: str) -> bool:
    """Remove `dst` from the declared-view registry (the view's data
    table, if any, stays — drop it via the normal table lifecycle).
    Returns whether a declaration existed."""
    with publish._manifest_lock(root):
        views = declared_views(root)
        existed = dst in views
        views.pop(dst, None)
        tmp = os.path.join(root, VIEWS_FILE + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(views, fh, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(root, VIEWS_FILE))
    return existed


def declared_views(root: str) -> dict:
    """The declared-view registry: {dst: {"kind": ..., **spec}}."""
    path = os.path.join(root, VIEWS_FILE)
    if not os.path.exists(path):
        return {}
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


VIEW_ERRORS_FILE = "_VIEW_ERRORS.json"
VIEW_ERRORS_MAX = 100


def record_view_errors(root: str, batch_id, errors: dict) -> None:
    """Append one refresh-failure record to the store's queryable error
    log (`_VIEW_ERRORS.json`, newest last, bounded to VIEW_ERRORS_MAX
    entries).  stream_into_store's non-strict mode calls this so "views
    are failing but ingest continues" is an OPERATIONAL SIGNAL an
    operator/monitor can poll via view_refresh_errors(), not just a
    WARNING line lost in driver logs."""
    import time as _time

    record = {
        "batch_id": batch_id,
        "at_unix": _time.time(),
        "errors": {k: str(v) for k, v in errors.items()},
    }
    with publish._manifest_lock(root):
        path = os.path.join(root, VIEW_ERRORS_FILE)
        try:
            with open(path, encoding="utf-8") as fh:
                log = json.load(fh)
        except FileNotFoundError:
            log = []
        except ValueError:
            # corrupt (e.g. partially written) log: PRESERVE it for the
            # operator instead of silently resetting the error history
            # this file exists to keep — view_refresh_errors() tolerates
            # corruption by returning [], but an APPEND must not launder
            # that into a truncated rewrite
            os.replace(path, path + ".corrupt")
            log = []
        log.append(record)
        log = log[-VIEW_ERRORS_MAX:]
        tmp = os.path.join(root, VIEW_ERRORS_FILE + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(log, fh)
        os.replace(tmp, os.path.join(root, VIEW_ERRORS_FILE))


def view_refresh_errors(root: str) -> list[dict]:
    """The recorded view-refresh failures, oldest first: [{"batch_id",
    "at_unix", "errors": {dst: message}}].  Empty when refreshes are
    healthy; a fixed declaration stops appending (the view catches up on
    the next batch) but history stays until clear_view_errors."""
    path = os.path.join(root, VIEW_ERRORS_FILE)
    if not os.path.exists(path):
        return []
    try:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return []


def clear_view_errors(root: str) -> int:
    """Drop the recorded failure history (after an operator has acted on
    it).  Returns how many records were cleared."""
    with publish._manifest_lock(root):
        n = len(view_refresh_errors(root))
        try:
            os.remove(os.path.join(root, VIEW_ERRORS_FILE))
        except FileNotFoundError:
            pass
    return n


def maintain_projection(
    spark: SparkSession,
    root: str,
    src: str,
    dst: str,
    exprs: Sequence[str],
    where: str | None = None,
) -> dict:
    """Maintain `dst` as a per-row SQL PROJECTION of `src`: `exprs` are
    selectExpr items (scalar expressions with aliases; one must carry
    the source's key column under its own name), `where` an optional
    row filter.  The generic scalar-function view — token counts,
    quality features, fingerprints — kept current O(batch) from the
    source's CDC by maintain_rowwise_view: inserts/updates re-project
    only the changed rows, deletes (and rows filtered OUT by an update)
    retract via stable-key delete markers.  The SQL front-end's
    CREATE MATERIALIZED VIEW projection shape declares exactly this."""
    keys = publish.table_keys(root, src)
    if not keys or len(keys) != 1:
        raise ValueError(
            f"projection view of {src!r} needs its single key column "
            "recorded (publish with table_keys=)"
        )
    key = keys[0]

    def build(rows: DataFrame) -> DataFrame:
        out = rows.filter(where) if where else rows
        out = out.selectExpr(*exprs)
        if key not in out.columns:
            raise ValueError(
                f"projection exprs must carry the source key {key!r} "
                f"(got columns {out.columns})"
            )
        return out

    return maintain_rowwise_view(
        spark, root, src, dst, build,
        dst_keys=[key], src_key=key, stable_keys=True,
        state_key=f"projection:{dst}",
    )


def _view_sources(spec: dict) -> list[str]:
    """The table names a declared view reads from."""
    if spec.get("kind") in ("aggregate", "projection"):
        return [spec["src"]]
    if spec.get("kind") == "topics":
        return [
            spec.get("src", "embeddings"),
            spec.get("centroids_table", "topic_centroids"),
        ]
    if spec.get("kind") in ("minhash", "postings", "doc_lengths", "shingles"):
        return [spec.get("src", "documents")]
    if spec.get("kind") == "term_df":
        return [spec.get("postings", "token_postings")]
    if spec.get("kind") == "contamination":
        return [
            spec.get("corpus_shingles", "corpus_shingles"),
            spec.get("benchmark_shingles", "benchmark_shingles"),
        ]
    if spec.get("kind") == "ivf":
        return [
            spec.get("src", "embeddings"),
            spec.get("centroids_table", "ivf_centroids"),
        ]
    if spec.get("kind") == "pq_codes":
        return [
            spec.get("src", "embeddings"),
            spec.get("codebook_table", "pq_codebook"),
        ]
    if spec.get("kind") == "ivfpq":
        return [
            spec.get("src", "embeddings"),
            spec.get("centroids_table", "ivfpq_centroids"),
            spec.get("codebook_table", "ivfpq_codebook"),
        ]
    return [spec["fact"], spec["dim"]]


def _view_refresh_order(views: dict) -> list[str]:
    """Declared views in dependency order (Kahn's algorithm): a view
    whose src/fact/dim is ANOTHER declared view's dst refreshes after
    that upstream, so one maintenance pass leaves a whole view-over-view
    DAG current instead of lagging one pass per level.  Alphabetical
    among independents (deterministic reports).  Raises ValueError on a
    dependency cycle — also called at declare time so cycles are
    rejected before they poison every later refresh."""
    waiting = {
        dst: {s for s in _view_sources(spec) if s in views}
        for dst, spec in views.items()
    }
    order: list[str] = []
    ready = sorted(d for d, deps in waiting.items() if not deps)
    pending = {d: deps for d, deps in waiting.items() if deps}
    while ready:
        n = ready.pop(0)
        order.append(n)
        released = []
        for d, deps in pending.items():
            deps.discard(n)
            if not deps:
                released.append(d)
        for d in released:
            del pending[d]
        ready = sorted(set(ready) | set(released))
    if pending:
        raise ValueError(
            f"declared views form a dependency cycle: {sorted(pending)}"
        )
    return order


def _view_maintainer(kind: str):
    """The maintain_* function for a declared view kind, looked up at
    call time (local imports: those modules import publish, not this
    module)."""
    if kind == "topics":
        from dataintegration_ecomprovider_spark.llm.similarity import (
            maintain_topic_assignments as fn,
        )
    elif kind == "minhash":
        from dataintegration_ecomprovider_spark.llm.incremental import (
            maintain_dedup_index as fn,
        )
    elif kind == "ivf":
        from dataintegration_ecomprovider_spark.llm.similarity import (
            maintain_ivf_cells as fn,
        )
    elif kind == "postings":
        from dataintegration_ecomprovider_spark.llm.search import (
            maintain_text_index as fn,
        )
    elif kind == "doc_lengths":
        from dataintegration_ecomprovider_spark.llm.search import (
            maintain_doc_lengths as fn,
        )
    elif kind == "term_df":
        from dataintegration_ecomprovider_spark.llm.search import (
            maintain_term_df as fn,
        )
    elif kind == "shingles":
        from dataintegration_ecomprovider_spark.llm.curation import (
            maintain_corpus_shingles as fn,
        )
    elif kind == "contamination":
        from dataintegration_ecomprovider_spark.llm.curation import (
            maintain_contamination as fn,
        )
    elif kind == "pq_codes":
        from dataintegration_ecomprovider_spark.llm.similarity import (
            maintain_pq_codes as fn,
        )
    elif kind == "ivfpq":
        from dataintegration_ecomprovider_spark.llm.similarity import (
            maintain_ivfpq_codes as fn,
        )
    elif kind == "projection":
        fn = maintain_projection
    else:
        fn = maintain_aggregate if kind == "aggregate" else maintain_join
    return fn


def refresh_declared_views(spark: SparkSession, root: str) -> dict:
    """Refresh every declared view, CONCURRENTLY along the view DAG:
    each view starts as soon as every declared view it reads has
    finished (no wait for a whole dependency level), and independent
    maintainers overlap on a runtime.context_pool — so a pass costs its
    longest dependency chain (postings → term_df), not the sum of its
    views.  Workers run in a copy of the caller's contextvars context,
    so persists a maintainer tracks outside its own job_scope land in
    the caller's scope.  Per-view failures are isolated: a failed view
    lands in ``errors`` and its dependents still refresh, exactly as a
    sequential pass would.  Returns {"views": {dst: maintain_* result},
    "errors": {dst: str}}, both in dependency order
    (_view_refresh_order) whatever order the views finished in."""
    views = declared_views(root)
    order = _view_refresh_order(views)
    waits = {
        dst: {s for s in _view_sources(views[dst]) if s in views}
        for dst in order
    }

    def _refresh(dst: str):
        spec = dict(views[dst])
        fn = _view_maintainer(spec.pop("kind"))
        try:
            return fn(spark, root, **spec), None
        except Exception as e:  # noqa: BLE001 — per-view isolation
            return None, f"{type(e).__name__}: {e}"

    outcome: dict = {}
    pending, running = list(order), {}
    with runtime.context_pool(len(order)) as pool:
        while pending or running:
            for dst in [d for d in pending if waits[d] <= outcome.keys()]:
                pending.remove(dst)
                running[pool.submit(_refresh, dst)] = dst
            done, _ = concurrent.futures.wait(
                running, return_when=concurrent.futures.FIRST_COMPLETED
            )
            for fut in done:
                outcome[running.pop(fut)] = fut.result()
    report: dict = {"views": {}, "errors": {}}
    for dst in order:
        result, error = outcome[dst]
        if error is None:
            report["views"][dst] = result
        else:
            report["errors"][dst] = error
    return report
