"""The store's commit protocol (plans/commit_protocol.py): the seam U12's
atomicity rests on — advisory lock + atomic manifest swap on POSIX, a CAS
backend for object stores.

Fault-injection coverage pinned here:
- a crashed holder's stale lock is taken over by EXACTLY ONE of many
  simultaneous waiters (the token-guarded reap — the un-guarded unlink
  let two takers interleave so one removed the other's fresh lock,
  yielding two concurrent commit critical sections);
- a reaped (stalled-past-staleness) holder's release never removes the
  new holder's lock;
- a crash between staging and the manifest swap leaves the previous
  version fully readable, and a retry commits cleanly;
- based_on CAS: a swap based on a version the store moved past is
  rejected (lost-update guard);
- the InMemoryCasProtocol backend runs full store lifecycles through the
  seam — proving no store code path bypasses it with raw file access.
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from dataintegration_ecomprovider_spark.plans import publish
from dataintegration_ecomprovider_spark.plans.commit_protocol import (
    CommitConflict,
    ConditionalCommitProtocol,
    DirectoryObjectStore,
    InMemoryCasProtocol,
    LEASE_KEY,
    LOCK_FILE,
    PosixCommitProtocol,
    PreconditionFailed,
    persist_protocol,
    protocol_for,
    set_protocol,
)


def _age(path: str, seconds: float) -> None:
    past = time.time() - seconds
    os.utime(path, (past, past))


def _plant_stale_lock(root: str, token: str = "deadbeef", age: float = 400.0) -> str:
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, LOCK_FILE)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(token)
    _age(path, age)
    return path


def test_stale_lock_single_taker_under_contention(tmp_path):
    """A crashed writer's lock + N simultaneous waiters: every waiter
    eventually acquires, and the critical section is NEVER concurrently
    held — the exact race the un-guarded takeover had."""
    root = str(tmp_path / "store")
    _plant_stale_lock(root)
    proto = PosixCommitProtocol()
    holders = []
    max_holders = []
    mu = threading.Lock()
    errors = []

    def worker(i):
        try:
            with proto.lock(root, timeout=30.0, stale=300.0):
                with mu:
                    holders.append(i)
                    max_holders.append(len(holders))
                time.sleep(0.01)  # widen any double-acquire window
                with mu:
                    holders.remove(i)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert max(max_holders) == 1  # never two concurrent critical sections
    assert len(max_holders) == 8  # everyone got through
    assert not os.path.exists(os.path.join(root, LOCK_FILE))


def test_reap_never_removes_fresh_lock(tmp_path):
    """The exact round-7 race, interleaved deterministically: waiter A
    observes the crashed holder's stale token, but BEFORE A acts, waiter
    B reaps the lock and writer C acquires a fresh one.  A's reap must
    leave C's lock alone — the un-guarded unlink removed it, yielding
    two concurrent commit critical sections."""
    root = str(tmp_path / "store")
    _plant_stale_lock(root, token="A-stale")
    path = os.path.join(root, LOCK_FILE)

    # replay the protocol's own reap steps with the race injected between
    # the observe-read and the intent claim
    class Interleaved(PosixCommitProtocol):
        def _maybe_reap(self, p, stale):
            if time.time() - os.path.getmtime(p) <= stale:
                return
            with open(p, encoding="utf-8") as fh:
                observed = fh.read()
            # ... B wins here: reaps the stale lock; C acquires fresh
            os.unlink(p)
            with open(p, "w", encoding="utf-8") as fh:
                fh.write("C-token")
            _age(p, 400.0)  # worst case: C's lock even LOOKS stale
            intent = p + ".reap-" + observed[:32]
            os.close(os.open(intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            try:
                # the token guard under the claimed intent
                with open(p, encoding="utf-8") as fh:
                    if fh.read() == observed:
                        os.unlink(p)
            finally:
                os.unlink(intent)

    Interleaved()._maybe_reap(path, 300.0)
    # C's lock survived A's reap
    with open(path, encoding="utf-8") as fh:
        assert fh.read() == "C-token"


def test_reap_intent_is_single_claimant_per_token(tmp_path):
    """Only one waiter ever claims the reap intent for a given token; a
    second waiter observing the same stale token backs off."""
    root = str(tmp_path / "store")
    path = _plant_stale_lock(root, token="T1")
    proto = PosixCommitProtocol()
    # a live claimant already holds the intent for T1
    intent = path + ".reap-T1"
    os.close(os.open(intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    proto._maybe_reap(path, stale=300.0)
    assert os.path.exists(path)  # backed off — lock untouched
    # the claimant crashed: its intent goes stale and is reclaimed, then
    # the next pass reaps the lock normally
    _age(intent, 400.0)
    proto._maybe_reap(path, stale=300.0)  # reclaims the stale intent
    proto._maybe_reap(path, stale=300.0)  # now reaps the lock
    assert not os.path.exists(path)
    assert not os.path.exists(intent)


def test_stalled_holder_release_leaves_new_lock_alone(tmp_path):
    """A holder that stalled past the staleness window and was reaped
    must not unlink the NEW holder's lock at release time."""
    root = str(tmp_path / "store")
    os.makedirs(root, exist_ok=True)
    proto = PosixCommitProtocol()
    path = os.path.join(root, LOCK_FILE)
    with proto.lock(root):
        # while "stalled": the lock is reaped and re-acquired by another
        os.unlink(path)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("newholder")
    # release was token-guarded: the new holder's lock survives
    with open(path, encoding="utf-8") as fh:
        assert fh.read() == "newholder"
    os.unlink(path)


def test_crash_between_stage_and_swap_keeps_old_version(spark, tmp_path):
    """kill -9 between staging and the manifest swap: the previous
    version stays fully readable, no partial state is visible, the lock
    is not left held (the crash is simulated at the swap boundary, after
    which the writer process is gone), and a retry commits cleanly."""
    root = str(tmp_path / "store")
    df1 = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    publish.publish_tables(spark, {"t": df1}, root, table_keys={"t": ["k"]})
    v1 = publish.current_manifest(root)["version"]

    class CrashAtSwap(PosixCommitProtocol):
        def swap_manifest(self, r, txid, manifest, based_on=None):
            raise OSError("simulated crash at the commit point")

    df2 = spark.range(5).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    set_protocol(root, CrashAtSwap())
    try:
        with pytest.raises(OSError, match="simulated crash"):
            publish.publish_tables(spark, {"t": df2}, root)
    finally:
        set_protocol(root, None)
    # old version intact and readable; the failed txid's staging is
    # invisible (it lives under data/<txid>/ which no manifest references)
    assert publish.current_manifest(root)["version"] == v1
    got = {r["k"]: r["v"] for r in publish.read_table(spark, root, "t").collect()}
    assert got == {i: 1 for i in range(10)}
    assert not os.path.exists(os.path.join(root, LOCK_FILE))
    # retry succeeds
    publish.publish_tables(spark, {"t": df2}, root)
    assert publish.read_table(spark, root, "t").count() == 5


def test_based_on_cas_rejects_moved_manifest(tmp_path):
    """swap_manifest(based_on=N) is refused once the live version moved
    past N — the lost-update guard a reaped-but-alive writer hits."""
    root = str(tmp_path / "store")
    os.makedirs(root, exist_ok=True)
    proto = PosixCommitProtocol()
    proto.swap_manifest(root, "tx1", {"version": 1, "tables": {}}, based_on=0)
    proto.swap_manifest(root, "tx2", {"version": 2, "tables": {}}, based_on=1)
    with pytest.raises(CommitConflict):
        proto.swap_manifest(
            root, "tx3", {"version": 2, "tables": {"x": "p"}}, based_on=1
        )
    # the refused swap left no temp residue and did not move the manifest
    assert proto.read_manifest(root)["version"] == 2
    assert [f for f in os.listdir(root) if f.startswith("MANIFEST.json.tmp")] == []


@pytest.mark.parametrize("backend", ["inmemory_cas", "conditional"])
def test_cas_backends_run_full_store_lifecycle(spark, tmp_path, backend):
    """BOTH object-store-shaped CAS backends carry a full store
    lifecycle — publish, MoR merge, CDC read, time travel, constraints,
    sync state — proving every store code path commits and reads through
    the CommitProtocol seam (raw MANIFEST.json access would diverge:
    neither backend writes one at the root)."""
    root = str(tmp_path / "store")
    proto = (InMemoryCasProtocol() if backend == "inmemory_cas"
             else ConditionalCommitProtocol())
    set_protocol(root, proto)
    try:
        df = spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["k"]})
        assert not os.path.exists(os.path.join(root, publish.MANIFEST))
        publish.merge_into_mor(
            spark, root, "t",
            spark.createDataFrame([(1, 111), (50, 500)], "k long, v long"),
            deletes=spark.createDataFrame([(2,)], "k long"),
        )
        got = {r["k"]: r["v"] for r in publish.read_table(spark, root, "t").collect()}
        assert got[1] == 111 and got[50] == 500 and 2 not in got
        # time travel + CDC still work (manifest history via the seam)
        assert publish.read_table_at(spark, root, "t", 1).count() == 20
        changes = publish.read_changes(spark, root, "t", from_version=1)
        kinds = {(r["k"]): r["change_type"] for r in changes.collect()}
        assert kinds[50] == "insert" and kinds[2] == "delete"
        # sync-state aux rides the seam too
        publish._set_sync_state(root, "cursor", 7)
        assert publish._sync_state(root) == {"cursor": 7}
        assert not os.path.exists(os.path.join(root, publish.SYNC_FILE))
    finally:
        set_protocol(root, None)


def test_inmemory_cas_detects_racing_writers(tmp_path):
    """Two writers based on the same version: the CAS admits one and
    rejects the other with CommitConflict — the object-store story where
    no advisory lock exists."""
    root = "mem://race"
    proto = InMemoryCasProtocol()
    proto.swap_manifest(root, "t0", {"version": 1, "tables": {}}, based_on=0)
    proto.swap_manifest(root, "t1", {"version": 2, "tables": {"a": "p"}},
                        based_on=1)
    with pytest.raises(CommitConflict):
        proto.swap_manifest(root, "t2", {"version": 2, "tables": {"b": "q"}},
                            based_on=1)
    assert proto.conflicts == 1
    assert proto.read_manifest(root)["tables"] == {"a": "p"}


def test_protocol_registry_scoped_per_root(tmp_path):
    """set_protocol registers per store root; other roots keep the POSIX
    default; clearing restores it."""
    proto = InMemoryCasProtocol()
    set_protocol("mem://a", proto)
    try:
        assert protocol_for("mem://a") is proto
        assert isinstance(protocol_for(str(tmp_path)), PosixCommitProtocol)
    finally:
        set_protocol("mem://a", None)
    assert isinstance(protocol_for("mem://a"), PosixCommitProtocol)


def test_lock_timeout_still_raises(tmp_path):
    """A FRESH (non-stale) foreign lock is honored until timeout."""
    root = str(tmp_path / "store")
    _plant_stale_lock(root, token="live", age=0.0)
    proto = PosixCommitProtocol()
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        with proto.lock(root, timeout=0.3):
            pass
    assert time.monotonic() - t0 >= 0.3
    # the foreign lock was not disturbed
    with open(os.path.join(root, LOCK_FILE), encoding="utf-8") as fh:
        assert fh.read() == "live"


def _lock_worker(args):
    """Module-level so multiprocessing can pickle it: acquire the lock,
    record enter/exit in an O_APPEND log (atomic per write), hold
    briefly."""
    root, idx = args
    import os as _os
    import time as _time

    from dataintegration_ecomprovider_spark.plans.commit_protocol import (
        PosixCommitProtocol,
    )

    proto = PosixCommitProtocol()
    log = _os.path.join(root, "events.log")
    with proto.lock(root, timeout=60.0, stale=300.0):
        fd = _os.open(log, _os.O_WRONLY | _os.O_APPEND | _os.O_CREAT)
        _os.write(fd, f"enter {idx}\n".encode())
        _os.close(fd)
        _time.sleep(0.02)
        fd = _os.open(log, _os.O_WRONLY | _os.O_APPEND)
        _os.write(fd, f"exit {idx}\n".encode())
        _os.close(fd)
    return idx


def test_stale_lock_takeover_across_processes(tmp_path):
    """REAL processes (not GIL-sharing threads) race over a crashed
    writer's stale lock: every worker eventually enters, and the
    enter/exit log shows zero overlapping critical sections — the
    cross-process form of the token-guarded reap guarantee."""
    import multiprocessing as mp

    root = str(tmp_path / "store")
    _plant_stale_lock(root)
    ctx = mp.get_context("spawn")
    with ctx.Pool(6) as pool:
        done = pool.map(_lock_worker, [(root, i) for i in range(6)])
    assert sorted(done) == list(range(6))
    events = open(os.path.join(root, "events.log"), encoding="utf-8").read().split()
    pairs = list(zip(events[::2], events[1::2]))
    depth = 0
    for kind, _idx in pairs:
        depth += 1 if kind == "enter" else -1
        assert 0 <= depth <= 1, f"overlapping critical sections: {pairs}"
    assert depth == 0 and len(pairs) == 12
    assert not os.path.exists(os.path.join(root, LOCK_FILE))


# ---- round 9: the durable conditional-write (object-store) backend ------

def test_object_store_conditional_put_semantics(tmp_path):
    """DirectoryObjectStore honors the exact S3/GCS precondition
    contract: If-None-Match creation, If-Match replacement, conditional
    delete — each failing loudly when the etag moved."""
    store = DirectoryObjectStore(str(tmp_path / "obj"))
    assert store.get("k") is None
    e1 = store.put("k", b"v1", if_none_match=True)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"v2", if_none_match=True)  # already exists
    body, etag = store.get("k")
    assert body == b"v1" and etag == e1
    e2 = store.put("k", b"v2", if_match=e1)
    with pytest.raises(PreconditionFailed):
        store.put("k", b"v3", if_match=e1)  # stale etag
    assert store.get("k")[0] == b"v2"
    with pytest.raises(PreconditionFailed):
        store.delete("k", if_match=e1)
    assert store.delete("k", if_match=e2) is True
    assert store.get("k") is None
    assert store.delete("k") is False


def test_object_store_etag_cas_serializes_racing_writers(tmp_path):
    """16 threads hammer one key with read→put-if-match increments,
    retrying on PreconditionFailed: every increment lands exactly once —
    the per-object serialization real stores guarantee."""
    store = DirectoryObjectStore(str(tmp_path / "obj"))
    store.put("ctr", b"0", if_none_match=True)
    N, PER = 16, 25

    def bump():
        for _ in range(PER):
            while True:
                body, etag = store.get("ctr")
                try:
                    store.put("ctr", str(int(body) + 1).encode(),
                              if_match=etag)
                    break
                except PreconditionFailed:
                    continue

    threads = [threading.Thread(target=bump) for _ in range(N)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert int(store.get("ctr")[0]) == N * PER


def test_conditional_swap_cas_rejects_moved_manifest(tmp_path):
    """The same lost-update contract the other backends pin: a swap
    based on a version the store moved past raises CommitConflict."""
    root = str(tmp_path / "store")
    proto = ConditionalCommitProtocol()
    proto.swap_manifest(root, "t1", {"version": 1, "tables": {}}, based_on=0)
    proto.swap_manifest(root, "t2", {"version": 2, "tables": {}}, based_on=1)
    with pytest.raises(CommitConflict):
        proto.swap_manifest(
            root, "t3", {"version": 2, "tables": {"x": "p"}}, based_on=1
        )
    assert proto.read_manifest(root)["version"] == 2
    # and the root holds NO MANIFEST.json — metadata lives in _objects/
    assert not os.path.exists(os.path.join(root, "MANIFEST.json"))


def test_conditional_lease_contention_single_holder(tmp_path):
    """An EXPIRED lease + N simultaneous waiters: the CAS takeover admits
    exactly one at a time, everyone eventually enters — the conditional
    backend's analogue of the POSIX token-guarded reap test."""
    root = str(tmp_path / "store")
    proto = ConditionalCommitProtocol()
    # plant a crashed writer's expired lease
    proto._client(root).put(
        LEASE_KEY,
        b'{"token": "dead", "expires_at": 1}', if_none_match=True,
    )
    holders, max_holders, errors = [], [], []
    mu = threading.Lock()

    def worker(i):
        try:
            with proto.lock(root, timeout=30.0, stale=300.0):
                with mu:
                    holders.append(i)
                    max_holders.append(len(holders))
                time.sleep(0.01)
                with mu:
                    holders.remove(i)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert max(max_holders) == 1
    assert len(max_holders) == 8
    assert proto._client(root).get(LEASE_KEY) is None  # last release clean


def test_conditional_stalled_holder_release_leaves_new_lease(tmp_path):
    """A holder taken over while stalled must not delete the NEW
    holder's lease at release time (token-guarded by etag CAS)."""
    root = str(tmp_path / "store")
    proto = ConditionalCommitProtocol()
    client = proto._client(root)
    with proto.lock(root, stale=300.0):
        # while "stalled": the lease is replaced by another writer
        _, etag = client.get(LEASE_KEY)
        client.put(
            LEASE_KEY,
            b'{"token": "newholder", "expires_at": 9999999999}',
            if_match=etag,
        )
    doc = client.get(LEASE_KEY)
    assert doc is not None and b"newholder" in doc[0]


def test_conditional_crash_between_stage_and_swap(spark, tmp_path):
    """Crash at the commit point on the conditional backend: the prior
    version stays fully readable through the backend, and a retry
    commits cleanly."""
    root = str(tmp_path / "store")
    proto = ConditionalCommitProtocol()
    set_protocol(root, proto)
    try:
        df1 = spark.range(10).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        )
        publish.publish_tables(spark, {"t": df1}, root,
                               table_keys={"t": ["k"]})
        v1 = publish.current_manifest(root)["version"]

        real_swap = proto.swap_manifest
        calls = {"n": 0}

        def crashing_swap(r, txid, manifest, based_on=None):
            calls["n"] += 1
            raise OSError("simulated crash at the commit point")

        proto.swap_manifest = crashing_swap
        df2 = spark.range(5).select(
            F.col("id").alias("k"), F.lit(2).alias("v")
        )
        with pytest.raises(OSError, match="simulated crash"):
            publish.publish_tables(spark, {"t": df2}, root)
        proto.swap_manifest = real_swap
        assert calls["n"] == 1
        assert publish.current_manifest(root)["version"] == v1
        got = {r["k"]: r["v"]
               for r in publish.read_table(spark, root, "t").collect()}
        assert got == {i: 1 for i in range(10)}
        # the crashed writer's lease expires rather than deadlocking the
        # store: acquisition with a short staleness window still works
        with proto.lock(root, timeout=5.0, stale=300.0):
            pass
        publish.publish_tables(spark, {"t": df2}, root)
        assert publish.read_table(spark, root, "t").count() == 5
    finally:
        set_protocol(root, None)


def test_persist_protocol_survives_sessions(spark, tmp_path):
    """persist_protocol writes _PROTOCOL.json; a FRESH registry (a new
    session) re-resolves the conditional backend from the config and
    reads the store it committed — durability of the choice itself."""
    from dataintegration_ecomprovider_spark.plans import commit_protocol as cp

    root = str(tmp_path / "store")
    persist_protocol(root, "conditional")
    try:
        assert isinstance(protocol_for(root), ConditionalCommitProtocol)
        df = spark.range(7).select(F.col("id").alias("k"))
        publish.publish_tables(spark, {"t": df}, root,
                               table_keys={"t": ["k"]})
        # simulate a new session: clear the in-process registry
        cp._REGISTRY.pop(root, None)
        assert isinstance(protocol_for(root), ConditionalCommitProtocol)
        assert publish.read_table(spark, root, "t").count() == 7
        # idempotent re-selection is fine; switching backends is not
        persist_protocol(root, "conditional")
        with pytest.raises(ValueError, match="another backend"):
            persist_protocol(root, "posix")
        with pytest.raises(ValueError, match="unknown protocol"):
            persist_protocol(str(tmp_path / "other"), "s3")
    finally:
        cp._REGISTRY.pop(root, None)


def _lease_worker(args):
    """Cross-process lease contention worker (module-level for pickling):
    same enter/exit log contract as _lock_worker, but through the
    conditional backend's CAS lease."""
    root, idx = args
    import os as _os
    import time as _time

    from dataintegration_ecomprovider_spark.plans.commit_protocol import (
        ConditionalCommitProtocol,
    )

    proto = ConditionalCommitProtocol()
    log = _os.path.join(root, "events.log")
    with proto.lock(root, timeout=60.0, stale=300.0):
        fd = _os.open(log, _os.O_WRONLY | _os.O_APPEND | _os.O_CREAT)
        _os.write(fd, f"enter {idx}\n".encode())
        _os.close(fd)
        _time.sleep(0.02)
        fd = _os.open(log, _os.O_WRONLY | _os.O_APPEND)
        _os.write(fd, f"exit {idx}\n".encode())
        _os.close(fd)
    return idx


def test_conditional_lease_across_processes(tmp_path):
    """REAL processes race for the conditional backend's lease over an
    expired crashed-writer lease: zero overlapping critical sections —
    the flock-backed conditional put arbitrates across process
    boundaries, exactly like the store service would."""
    import multiprocessing as mp

    root = str(tmp_path / "store")
    os.makedirs(root, exist_ok=True)
    ConditionalCommitProtocol()._client(root).put(
        LEASE_KEY, b'{"token": "dead", "expires_at": 1}',
        if_none_match=True,
    )
    ctx = mp.get_context("spawn")
    with ctx.Pool(6) as pool:
        done = pool.map(_lease_worker, [(root, i) for i in range(6)])
    assert sorted(done) == list(range(6))
    events = open(
        os.path.join(root, "events.log"), encoding="utf-8"
    ).read().split()
    pairs = list(zip(events[::2], events[1::2]))
    depth = 0
    for kind, _idx in pairs:
        depth += 1 if kind == "enter" else -1
        assert 0 <= depth <= 1, f"overlapping critical sections: {pairs}"
    assert depth == 0 and len(pairs) == 12


def test_protocol_for_caches_default_miss(tmp_path):
    """Round 10: a default-POSIX root resolves its protocol ONCE per
    session (the miss is cached), while in-session registration and
    durable persist still override the cached default, and clearing the
    registration re-resolves."""
    from dataintegration_ecomprovider_spark.plans import commit_protocol as cp

    root = str(tmp_path / "store")
    os.makedirs(root, exist_ok=True)
    p1 = cp.protocol_for(root)
    assert isinstance(p1, cp.PosixCommitProtocol)
    assert root in cp._REGISTRY  # the miss itself is cached
    # cached default does not stick past an explicit selection
    cp.persist_protocol(root, "conditional")
    assert isinstance(cp.protocol_for(root), cp.ConditionalCommitProtocol)
    # clearing re-resolves from disk (the persisted choice wins)
    cp.set_protocol(root, None)
    assert isinstance(cp.protocol_for(root), cp.ConditionalCommitProtocol)


def _history_wall_ms(spark, root: str) -> dict:
    """{version: commit_wall_ms} as DESCRIBE HISTORY reports it."""
    from dataintegration_ecomprovider_spark.plans.store_sql import store_sql

    return {
        r["version"]: r["commit_wall_ms"]
        for r in store_sql(spark, root).sql("DESCRIBE HISTORY").collect()
    }


def test_commit_wall_ms_recorded_and_surfaced(spark, tmp_path):
    """Every hot commit path stamps stage-to-swap wall time into the
    manifest, _history_fields carries it across versions, and DESCRIBE
    HISTORY surfaces it — per-commit cost drift is readable from the
    store itself."""
    root = str(tmp_path / "store")
    df = spark.range(50).selectExpr("id", "id * 2 AS v")
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["id"]})
    publish.merge_into_mor(spark, root, "t", df.limit(10))
    hist = _history_wall_ms(spark, root)
    assert sorted(hist) == [1, 2]
    for ms in hist.values():
        assert ms is not None and ms > 0


def test_describe_history_keeps_commit_wall_ms_across_a_spill(
    spark, tmp_path, monkeypatch
):
    """commit_wall_ms survives the move of old history entries into
    spilled checkpoint files: DESCRIBE HISTORY reports a positive value
    for every version each hot commit path wrote, spilled ones too."""
    monkeypatch.setattr(publish, "HISTORY_INLINE_MAX", 2)
    root = str(tmp_path / "store")
    df = spark.range(20).selectExpr("id", "id * 2 AS v")
    publish.publish_tables(spark, {"t": df}, root, table_keys={"t": ["id"]})
    for i in range(2):
        publish.publish_tables(spark, {"t": df.limit(15 - i)}, root)
        publish.merge_into_mor(spark, root, "t", df.limit(5 + i))
        publish.merge_many_mor(
            spark, root, {"t": {"staging": df.limit(3 + i), "keys": ["id"]}}
        )
    manifest = publish.current_manifest(root)
    assert manifest.get("history_spills"), "expected a history spill"
    hist = _history_wall_ms(spark, root)
    assert sorted(hist) == list(range(1, manifest["version"] + 1))
    assert manifest["version"] == 7
    for version, ms in hist.items():
        assert ms is not None and ms > 0, version


def test_cached_reads_survive_eviction_racing_a_vanished_document(tmp_path):
    """The POSIX backend's JSON parse cache under three readers: two
    cycle through more sidecar documents than the cache holds (every
    read evicts), while the third keeps seeing one cached document
    vanish and return.  Every read answers the file's content or None
    (absent) and none raises — an eviction that iterates the cache while
    another thread drops an entry outside its lock raised "dictionary
    changed size during iteration"."""
    import json
    import sys

    proto = PosixCommitProtocol()
    root = str(tmp_path)
    n_docs = 1100  # past the cache's 1,024-entry cap
    for i in range(n_docs):
        proto.write_aux(root, f"aux_{i}.json", {"i": i})
    flip = os.path.join(root, "flip.json")
    with open(flip, "w", encoding="utf-8") as fh:
        json.dump({"flip": True}, fh)

    errors: list[BaseException] = []
    deadline = time.monotonic() + 4.0

    def running() -> bool:
        return not errors and time.monotonic() < deadline

    def cycle(offset: int) -> None:
        try:
            while running():
                for j in range(n_docs):
                    i = (j + offset) % n_docs
                    assert proto.read_aux(root, f"aux_{i}.json") == {"i": i}
                    if not running():
                        return
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def vanish() -> None:
        try:
            while running():
                assert proto.read_aux(root, "flip.json") == {"flip": True}
                os.rename(flip, flip + ".away")
                assert proto.read_aux(root, "flip.json") is None
                os.rename(flip + ".away", flip)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads finely
    try:
        threads = [
            threading.Thread(target=cycle, args=(0,)),
            threading.Thread(target=cycle, args=(n_docs // 2,)),
            threading.Thread(target=vanish),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, repr(errors[0])
