"""Declared views refresh concurrently along the view DAG.

Covers the scheduler (dependency order in the report, a view starting as
soon as its own upstreams finish, failure isolation), the context every
worker runs in (scopes propagate, nothing lands in the module scope),
the single-flight span-feed cache, and the full BM25 + MinHash stack
refreshed concurrently against from-scratch recomputes."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark import runtime
from dataintegration_ecomprovider_spark.llm import dedup, search
from dataintegration_ecomprovider_spark.plans import materialize, publish


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# --- scheduler (no Spark work: the maintainers are stand-ins) ---------------


def _declare_projections(root, deps):
    """Declare one projection view per dst in `deps` ({dst: src}); a src
    that is another dst makes a view-over-view edge."""
    os.makedirs(root, exist_ok=True)
    for dst, src in deps.items():
        materialize.declare_view(
            root, "projection", src=src, dst=dst, exprs=["k"]
        )


def test_view_starts_when_its_own_upstream_finishes(tmp_path, monkeypatch):
    """`b_down` reads `a_up`; `z_slow` is independent and finishes only
    after `b_down` has STARTED.  A level-by-level scheduler would hold
    b_down until z_slow (same level as a_up) finished and deadlock the
    wait below; the DAG scheduler starts b_down as soon as a_up is done.
    The report still lists views in dependency order."""
    root = str(tmp_path / "store")
    _declare_projections(
        root, {"a_up": "base", "b_down": "a_up", "z_slow": "base"}
    )
    b_started = threading.Event()
    log = []

    def fake(spark, root, src, dst, **kw):
        log.append(("start", dst))
        if dst == "b_down":
            b_started.set()
        if dst == "z_slow":
            assert b_started.wait(30), "b_down waited for its whole level"
        log.append(("end", dst))
        return {"dst": dst, "mode": "delta"}

    monkeypatch.setattr(materialize, "maintain_projection", fake)
    report = materialize.refresh_declared_views(None, root)
    assert not report["errors"]
    assert list(report["views"]) == ["a_up", "b_down", "z_slow"]
    assert list(report["views"]) == materialize._view_refresh_order(
        materialize.declared_views(root)
    )
    # the dependency edge held: b_down started after a_up ended
    assert log.index(("end", "a_up")) < log.index(("start", "b_down"))
    # and the independent views overlapped
    assert log.index(("start", "z_slow")) < log.index(("end", "b_down"))


def test_failed_view_is_isolated_and_dependents_still_run(
    tmp_path, monkeypatch
):
    """A failing view lands in `errors`; its siblings AND its dependents
    still refresh (the sequential pass's isolation contract), and both
    report maps keep dependency order."""
    root = str(tmp_path / "store")
    _declare_projections(
        root, {"a_bad": "base", "b_child": "a_bad", "c_ok": "base",
               "d_bad": "base"}
    )

    def fake(spark, root, src, dst, **kw):
        if dst.endswith("_bad"):
            raise RuntimeError(f"{dst} is broken")
        return {"dst": dst, "mode": "delta"}

    monkeypatch.setattr(materialize, "maintain_projection", fake)
    report = materialize.refresh_declared_views(None, root)
    assert list(report["errors"]) == ["a_bad", "d_bad"]
    assert report["errors"]["a_bad"] == "RuntimeError: a_bad is broken"
    assert list(report["views"]) == ["b_child", "c_ok"]


def test_worker_tracks_land_in_the_callers_scope(tmp_path, monkeypatch):
    """A maintainer tracking a persist OUTSIDE a job_scope of its own
    registers in the caller's scope (workers run in a copy of the
    caller's context), never in runtime's module scope — where nothing
    would ever release it.  A maintainer's own job_scope stays its own."""
    root = str(tmp_path / "store")
    _declare_projections(root, {"a": "base", "b": "base", "c": "a"})
    markers = {}
    inner_scopes = {}

    def fake(spark, root, src, dst, **kw):
        markers[dst] = object()
        runtime.track(markers[dst])
        with runtime.job_scope() as own:
            runtime.track(("own", dst))
            inner_scopes[dst] = own
        return {"dst": dst, "mode": "delta"}

    monkeypatch.setattr(materialize, "maintain_projection", fake)
    module_before = list(runtime._global_scope._dfs)
    with runtime.job_scope() as caller:
        report = materialize.refresh_declared_views(None, root)
    assert not report["errors"]
    assert runtime._global_scope._dfs == module_before
    assert {id(m) for m in markers.values()} == {id(d) for d in caller._dfs}
    for dst, own in inner_scopes.items():
        assert own._dfs == [("own", dst)]


def test_context_pool_copies_the_submitters_context():
    """map_concurrently keeps item order, copies the submitter's current
    scope into every worker, and raises the first failure in item
    order."""
    with runtime.job_scope() as scope:
        got = runtime.map_concurrently(
            lambda i: (i, runtime.current_scope() is scope), range(5)
        )
    assert got == [(i, True) for i in range(5)]

    def boom(i):
        if i in (1, 3):
            raise ValueError(i)
        return i

    try:
        runtime.map_concurrently(boom, range(4))
    except ValueError as e:
        assert e.args == (1,)
    else:
        raise AssertionError("expected the item-1 failure")


# --- span-feed cache ---------------------------------------------------------


def _two_version_store(spark, root):
    publish.publish_tables(
        spark,
        {"t": spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string")},
        root, table_keys={"t": ["k"]},
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, "bb"), (4, "d")], "k bigint, v string"),
    )
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(5, "e")], "k bigint, v string"),
    )


def test_span_feed_is_single_flight(spark, tmp_path, monkeypatch):
    """Concurrent callers asking for one span compute ONE diff: the
    first caller computes, the rest wait and share its persisted feed."""
    materialize.SPAN_FEED_CACHE.clear()
    root = str(tmp_path / "store")
    _two_version_store(spark, root)
    calls = []
    real = publish.read_changes

    def slow(*a, **kw):
        calls.append(a)
        time.sleep(0.5)  # hold the flight open while the others arrive
        return real(*a, **kw)

    monkeypatch.setattr(publish, "read_changes", slow)
    got = runtime.map_concurrently(
        lambda _: materialize.span_change_feed(spark, root, "t", 1, 2, ["k"]),
        range(4),
    )
    assert len(calls) == 1
    assert len({id(df) for df, _ in got}) == 1
    assert {n for _, n in got} == {2}
    assert not materialize.SPAN_FEED_CACHE.in_flight()

    # a failing flight re-raises in every waiter and leaves nothing
    # behind, so the next caller retries
    def missing(*a, **kw):
        time.sleep(0.2)
        raise KeyError("vacuumed")

    monkeypatch.setattr(publish, "read_changes", missing)
    errors = runtime.map_concurrently(
        lambda _: _raises(
            lambda: materialize.span_change_feed(
                spark, root, "t", 2, 3, ["k"])
        ),
        range(3),
    )
    assert all(isinstance(e, KeyError) for e in errors)
    assert not materialize.SPAN_FEED_CACHE.in_flight()
    materialize.SPAN_FEED_CACHE.clear()


def _raises(fn):
    try:
        fn()
    except Exception as e:  # noqa: BLE001
        return e
    return None


def test_span_feed_eviction_is_lru_and_where_spans_supersede(
    spark, tmp_path, monkeypatch
):
    """A hit refreshes recency, so the cap evicts the least recently
    USED feed; a newer span of one (source, where shape) supersedes the
    older span's entry."""
    materialize.SPAN_FEED_CACHE.clear()
    root = str(tmp_path / "store")
    _two_version_store(spark, root)
    monkeypatch.setattr(materialize.SPAN_FEED_CACHE, "cap", 2)

    def feed(keys, include_old=False, where=(), span=(1, 2)):
        return materialize.span_change_feed(
            spark, root, "t", span[0], span[1], keys,
            include_old=include_old, where=where,
        )

    first, _ = feed(["k"])
    feed(["k"], include_old=True)
    assert feed(["k"])[0] is first  # hit: now most recently used
    feed(["k", "v"])  # third shape: evicts the include_old feed
    shapes = {
        (slot[3], slot[4]) for slot, _ in materialize.SPAN_FEED_CACHE.keys()
    }
    assert shapes == {(("k",), False), (("k", "v"), False)}

    materialize.SPAN_FEED_CACHE.clear()
    monkeypatch.setattr(materialize.SPAN_FEED_CACHE, "cap", 6)
    where = [("k", ">", 1)]
    _, n12 = feed(["k"], where=where, span=(1, 2))
    _, n23 = feed(["k"], where=where, span=(2, 3))
    assert (n12, n23) == (2, 1)
    assert [span[2] for _, span in materialize.SPAN_FEED_CACHE.keys()] == [
        (2, 3)
    ]
    materialize.SPAN_FEED_CACHE.clear()


# --- the BM25 + MinHash stack, refreshed concurrently -----------------------


def test_concurrent_refresh_of_the_search_stack_equals_recompute(
    spark, tmp_path, monkeypatch
):
    """postings, doc_lengths, term_df (over postings) and minhash
    declared together: after edits, inserts and deletes, one concurrent
    pass leaves every view equal to a from-scratch recompute, computes
    exactly ONE documents diff for the three documents-sourced views,
    commits the MinHash sigs and bands in one version, and reports in
    dependency order.  A broken sibling lands in errors without
    stopping the rest, and nothing lands in runtime's module scope."""
    materialize.SPAN_FEED_CACHE.clear()
    root = str(tmp_path / "store")
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "machine learning pipelines deduplicate training corpora",
        "the quick brown fox naps under the lazy dog",
        "an utterly unique standalone sentence here",
    ]
    publish.publish_tables(
        spark, {"documents": _docs(spark, list(enumerate(texts, 1)))},
        root, table_keys={"documents": ["doc_id"]},
    )
    materialize.declare_view(root, "postings", dst="token_postings")
    materialize.declare_view(root, "doc_lengths", dst="doc_lengths")
    materialize.declare_view(root, "term_df", dst="term_df")
    materialize.declare_view(root, "minhash", dst="minhash_sigs")
    # broken: its expression names a column documents does not have
    materialize.declare_view(
        root, "projection", src="documents", dst="broken_proj",
        exprs=["doc_id", "no_such_col"],
    )

    report = materialize.refresh_declared_views(spark, root)
    assert list(report["views"]) == [
        "doc_lengths", "minhash_sigs", "token_postings", "term_df",
    ]
    assert {v["mode"] for v in report["views"].values()} == {"seed"}
    assert list(report["errors"]) == ["broken_proj"]

    publish.merge_into_mor(
        spark, root, "documents",
        _docs(spark, [(2, "pack my box with six dozen liquor jugs"),
                      (6, "a brand new document about foxes"),
                      (5, "   ")]),
        deletes=_docs(spark, [(3, "")]).select("doc_id"),
    )
    v0 = publish.current_manifest(root)["version"]

    diffs = []
    real = publish.read_changes

    def counting(spark_, root_, name, *a, **kw):
        diffs.append(name)
        return real(spark_, root_, name, *a, **kw)

    monkeypatch.setattr(publish, "read_changes", counting)
    module_before = list(runtime._global_scope._dfs)
    with runtime.job_scope() as caller:
        report = materialize.refresh_declared_views(spark, root)
    caller.release(spark)
    monkeypatch.undo()
    assert runtime._global_scope._dfs == module_before
    assert list(report["views"]) == [
        "doc_lengths", "minhash_sigs", "token_postings", "term_df",
    ]
    assert {v["mode"] for v in report["views"].values()} == {"delta"}
    assert list(report["errors"]) == ["broken_proj"]
    assert diffs.count("documents") == 1
    # one commit per view: the MinHash sigs and bands share a version
    assert publish.current_manifest(root)["version"] == v0 + 4
    sigs_entry = publish.current_manifest(root)["tables"]["minhash_sigs"]
    bands_entry = publish.current_manifest(root)["tables"]["minhash_bands"]
    assert sigs_entry["deltas"][-1]["txid"] == bands_entry["deltas"][-1]["txid"]

    docs = publish.read_table(spark, root, "documents")
    postings = search.token_postings(docs)
    assert _rows(publish.read_table(spark, root, "token_postings")) == _rows(
        postings
    )
    assert _rows(publish.read_table(spark, root, "doc_lengths")) == _rows(
        search.doc_lengths(docs)
    )
    assert _rows(publish.read_table(spark, root, "term_df")) == _rows(
        postings.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    sigs = dedup.minhash_signatures(docs)
    assert _rows(
        publish.read_table(spark, root, "minhash_sigs")
        .select("id", F.col("sig").cast("string"))
    ) == _rows(sigs.select("id", F.col("sig").cast("string")))
    assert _rows(publish.read_table(spark, root, "minhash_bands")) == _rows(
        dedup.band_buckets(sigs)
    )
    materialize.SPAN_FEED_CACHE.clear()


# --- merge-on-read staging reads the base schema driver-side ----------------


def test_mor_delta_base_schema_matches_the_read(spark, tmp_path, monkeypatch):
    """_entry_read_schema answers what _read_entry(...).schema resolves
    to — nested types, nullability and timestamps included — across
    plain, merge-on-read, widened and renamed entries, and a default
    merge_into_mor stages without building the reconstruction plan."""
    import datetime as dt
    import decimal

    root = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, "a", [1, 2], {"x": 1.5}, (3, "s"), decimal.Decimal("1.25"),
          dt.datetime(2024, 1, 2, 3, 4, 5))],
        "k bigint not null, v string, arr array<int>, m map<string,double>,"
        " st struct<i:int,s:string>, d decimal(10,2), ts timestamp",
    )
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["k"]})

    def check():
        entry = publish.current_manifest(root)["tables"]["t"]
        assert publish._entry_read_schema(spark, entry) == (
            publish._read_entry(spark, entry).schema
        )

    check()
    reads = []
    real = publish._read_entry
    monkeypatch.setattr(
        publish, "_read_entry", lambda *a: reads.append(a) or real(*a)
    )
    publish.merge_into_mor(spark, root, "t", df.withColumn("v", F.lit("b")))
    assert reads == []
    monkeypatch.undo()
    check()
    publish.merge_into_mor(
        spark, root, "t", df.withColumn("extra", F.lit(7)),
        evolve_schema=True,
    )
    check()
    publish.rename_column(spark, root, "t", "v", "v2")
    check()
    publish.merge_into_mor(
        spark, root, "t",
        spark.createDataFrame([(2, "z")], "k bigint, v2 string"),
    )
    assert _rows(publish.read_table(spark, root, "t").select("k", "v2")) == [
        (1, "a"), (2, "z"),
    ]
