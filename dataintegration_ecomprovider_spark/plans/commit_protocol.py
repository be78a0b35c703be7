"""Pluggable commit protocol for the versioned store (U12's foundation).

The store's all-or-nothing visibility (SURVEY §4 "custom work #1" — the
reference's SqlTransaction envelope, src/EcomProvider.cs:1018-1036) rests
on exactly three primitives, extracted here behind one seam:

1. ``lock(root)`` — serialize the read-manifest → build → swap critical
   section across writers (held for milliseconds; staging/validation run
   outside it);
2. ``swap_manifest(root, ...)`` — atomically publish a new manifest, the
   single commit point;
3. ``read_manifest`` / ``read_aux`` / ``write_aux`` — consistent reads of
   the manifest and the small shared sidecar files (sync watermarks,
   reader leases).

``PosixCommitProtocol`` (the default) implements them with O_CREAT|O_EXCL
advisory locking and atomic rename — correct on local and most shared
POSIX filesystems, which is where the test suites and single-cluster
deployments live.  On an object store (S3/GCS — where a 100 TB store
actually lives) neither primitive exists; there the protocol must be a
conditional-PUT/compare-and-swap backend (S3 If-None-Match/If-Match, GCS
generation preconditions, or a DynamoDB-style lock service — the problem
Delta solves with LogStore).  Two CAS backends implement that shape:

- ``InMemoryCasProtocol`` — the reference CAS implementation: no
  advisory lock at all for correctness — writers race to an atomic
  version CAS and losers get ``CommitConflict`` — so it doubles as the
  seam's conformance test double (tests/test_commit_protocol.py runs
  full store lifecycles through it, proving nothing in the store
  bypasses the seam).
- ``ConditionalCommitProtocol`` — the DURABLE object-store backend:
  everything (manifest swap, commit lease, aux docs) is built from the
  conditional-write primitives real object stores offer (see
  ``ObjectStoreClient`` — each method maps 1:1 onto S3 conditional PUT
  / GCS ``ifGenerationMatch``), emulated durably on disk by
  ``DirectoryObjectStore``.  Select it per store root with
  ``set_protocol`` (session) or ``persist_protocol`` (writes
  ``_PROTOCOL.json``, honored by every future session).

Every swap carries ``based_on`` — the manifest version the writer read at
the start of its critical section.  CAS backends reject a swap whose
``based_on`` no longer matches the live version (the lost-update guard);
the POSIX backend re-checks it immediately before the rename, shrinking
the lost-update window of a pathological writer (one that stalled past
the lock's staleness takeover and lost its lock mid-section) from the
whole critical section to microseconds.
"""

from __future__ import annotations

import base64
import contextlib
import fcntl
import hashlib
import json
import os
import threading
import time
import uuid

from dataintegration_ecomprovider_spark import runtime

MANIFEST = "MANIFEST.json"
LOCK_FILE = ".MANIFEST.lock"
PROTOCOL_CONFIG = "_PROTOCOL.json"

# per-process contention counters (scripts/scale_probe.py `contention`
# reads these): waits = lock-held poll sleeps, lost_cas_races = lease
# CAS puts that lost to a concurrent writer, takeovers = expired-lease
# CAS takeovers won.  Plain dict increments — no locking; the numbers
# feed a probe, not a control decision.
CONTENTION_STATS = {"waits": 0, "lost_cas_races": 0, "takeovers": 0}


def reset_contention_stats() -> dict:
    prev = dict(CONTENTION_STATS)
    for k in CONTENTION_STATS:
        CONTENTION_STATS[k] = 0
    return prev


class CommitConflict(RuntimeError):
    """The manifest advanced past the version this swap was based on —
    another writer committed first.  Re-read and retry."""


class CommitProtocol:
    """The acquire / CAS-swap / release seam.  Subclass per storage
    backend; register per store root with ``set_protocol``."""

    def lock(self, root: str, timeout: float = 60.0, stale: float = 300.0):
        """Context manager serializing the commit critical section."""
        raise NotImplementedError

    def read_manifest(self, root: str) -> dict | None:
        """The current committed manifest, or None if never committed."""
        raise NotImplementedError

    def swap_manifest(
        self, root: str, txid: str, manifest: dict,
        based_on: int | None = None,
    ) -> None:
        """Atomically publish `manifest` as the current version.
        `based_on`: the version the writer's critical section started
        from; backends reject the swap (CommitConflict) when the live
        version has moved past it."""
        raise NotImplementedError

    def read_aux(self, root: str, filename: str) -> dict | None:
        """A small shared sidecar document (sync state, reader leases)."""
        raise NotImplementedError

    def write_aux(self, root: str, filename: str, doc: dict) -> None:
        """Atomically replace a sidecar document (call under lock() when
        the update is read-modify-write)."""
        raise NotImplementedError


# Stat-keyed parse cache for the POSIX backend's JSON documents: a
# single store-lifecycle query re-reads its manifest 40-65 times (every
# tables_at/version walk re-parses it), and the manifest grows
# O(history × tables) — pure repeated driver-side json.load of an
# unchanged file.  The version is (inode, size, mtime_ns): every writer
# replaces the file via os.replace (fresh inode from the tmp file), so
# any commit — this process or another — changes the signature and
# supersedes the cached parse.  CALLERS MUST NOT MUTATE the returned
# document (the store code copies before mutating everywhere —
# _update_entry_meta, _append_mor_entry, _history_fields,
# _set_sync_states, _read_readers); a mutation would poison every later
# read until the next commit.
_JSON_DOCS = runtime.KeyedCache(1024)


def _load_json(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _cached_json_doc(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    try:
        return _JSON_DOCS.get(
            path, (st.st_ino, st.st_size, st.st_mtime_ns),
            lambda: _load_json(path),
        )
    except FileNotFoundError:
        # deleted between stat and open (e.g. a concurrent vacuum of an
        # aux file): absent, same as the stat miss
        return None


class PosixCommitProtocol(CommitProtocol):
    """O_EXCL advisory lock + atomic-rename swap (the default backend).

    Staleness takeover is TOKEN-GUARDED so two waiters that both observe
    a crashed writer's lock can never double-acquire: each lock carries a
    unique token; reaping a stale lock first claims a per-token "reap
    intent" file (O_EXCL — exactly one claimant per token, ever, since
    tokens never repeat), then re-reads the lock and unlinks it only if
    it STILL carries the observed token.  Between that re-read and the
    unlink the lock cannot change hands: creation requires absence, the
    only other unlinkers are the (dead) holder and other reapers — who
    cannot hold the intent for this token.  The un-guarded version of
    this path was the race: waiter B's unlink could remove waiter A's
    freshly-created lock, yielding two concurrent critical sections.

    Release is equally token-guarded: a holder that stalled past the
    staleness window and was reaped finds a foreign token at release time
    and leaves the new holder's lock alone (its eventual swap then fails
    the based_on re-check instead of silently losing an update).
    """

    @contextlib.contextmanager
    def lock(self, root: str, timeout: float = 60.0, stale: float = 300.0):
        path = os.path.join(root, LOCK_FILE)
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
                break
            except FileExistsError:
                self._maybe_reap(path, stale)
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"could not acquire manifest lock {path} "
                        f"within {timeout}s"
                    )
                CONTENTION_STATS["waits"] += 1
                time.sleep(0.02)
        try:
            yield
        finally:
            try:
                with open(path, encoding="utf-8") as fh:
                    mine = fh.read() == token
                if mine:
                    os.unlink(path)
            except OSError:
                pass

    def _maybe_reap(self, path: str, stale: float) -> None:
        """Take over a crashed writer's lock, at most once per token."""
        try:
            if time.time() - os.path.getmtime(path) <= stale:
                return
            with open(path, encoding="utf-8") as fh:
                observed = fh.read()
        except OSError:
            return  # released between the existence check and the read
        intent = path + ".reap-" + (observed[:32] or "empty")
        try:
            os.close(os.open(intent, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            # another waiter owns the reap for this token.  If IT crashed
            # between claiming and reaping, its intent goes stale too and
            # is reclaimed here (the double-crash path: two independent
            # `stale`-length windows must elapse before it can matter).
            try:
                if time.time() - os.path.getmtime(intent) > stale:
                    os.unlink(intent)
            except OSError:
                pass
            return
        try:
            # sole claimant for this token: re-read, remove ONLY if the
            # lock still carries the token observed stale — a fresh lock
            # (new token) must never be unlinked
            try:
                with open(path, encoding="utf-8") as fh:
                    if fh.read() == observed:
                        os.unlink(path)
            except OSError:
                pass
        finally:
            try:
                os.unlink(intent)
            except OSError:
                pass

    def read_manifest(self, root: str) -> dict | None:
        return _cached_json_doc(os.path.join(root, MANIFEST))

    def swap_manifest(
        self, root: str, txid: str, manifest: dict,
        based_on: int | None = None,
    ) -> None:
        path = os.path.join(root, MANIFEST)
        tmp = path + f".tmp-{txid}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=2)
        if based_on is not None:
            # last-moment lost-update guard (see class docstring); the
            # read→rename pair is not atomic on POSIX — the CAS backends
            # are where this check is airtight
            cur = self.read_manifest(root)
            if (cur["version"] if cur else 0) != based_on:
                try:
                    os.unlink(tmp)
                except OSError:
                    pass
                raise CommitConflict(
                    f"manifest at {root} moved past version {based_on}"
                )
        os.replace(tmp, path)  # the atomic commit point

    def read_aux(self, root: str, filename: str) -> dict | None:
        return _cached_json_doc(os.path.join(root, filename))

    def write_aux(self, root: str, filename: str, doc: dict) -> None:
        tmp = os.path.join(root, filename + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        os.replace(tmp, os.path.join(root, filename))


class InMemoryCasProtocol(CommitProtocol):
    """Reference compare-and-swap backend — the object-store commit shape
    (S3 If-Match conditional PUT / GCS generation preconditions) played
    in process memory.  The lock is only an in-process courtesy (it
    cannot span hosts, exactly like object stores have no advisory
    locks); CORRECTNESS comes from swap_manifest's atomic version CAS —
    two writers based on the same version race, one wins, the loser gets
    CommitConflict and must re-read and retry.  Used by the conformance
    tests to prove every store code path commits through the seam."""

    def __init__(self) -> None:
        self._mu = threading.RLock()
        self._locks: dict[str, threading.RLock] = {}
        self._manifests: dict[str, dict] = {}
        self._aux: dict[tuple[str, str], dict] = {}
        self.conflicts = 0  # observability for tests

    def _root_lock(self, root: str) -> threading.RLock:
        with self._mu:
            return self._locks.setdefault(root, threading.RLock())

    @contextlib.contextmanager
    def lock(self, root: str, timeout: float = 60.0, stale: float = 300.0):
        lk = self._root_lock(root)
        if not lk.acquire(timeout=timeout):
            raise TimeoutError(f"could not acquire in-memory lock for {root}")
        try:
            yield
        finally:
            lk.release()

    def read_manifest(self, root: str) -> dict | None:
        with self._mu:
            m = self._manifests.get(root)
            return json.loads(json.dumps(m)) if m is not None else None

    def swap_manifest(
        self, root: str, txid: str, manifest: dict,
        based_on: int | None = None,
    ) -> None:
        with self._mu:  # the atomic CAS
            cur = self._manifests.get(root)
            cur_version = cur["version"] if cur else 0
            if based_on is not None and cur_version != based_on:
                self.conflicts += 1
                raise CommitConflict(
                    f"manifest at {root} moved past version {based_on}"
                )
            self._manifests[root] = json.loads(json.dumps(manifest))

    def read_aux(self, root: str, filename: str) -> dict | None:
        with self._mu:
            doc = self._aux.get((root, filename))
            return json.loads(json.dumps(doc)) if doc is not None else None

    def write_aux(self, root: str, filename: str, doc: dict) -> None:
        with self._mu:
            self._aux[(root, filename)] = json.loads(json.dumps(doc))


class PreconditionFailed(RuntimeError):
    """A conditional write's If-Match / If-None-Match precondition did
    not hold — the object changed (or appeared) since it was read."""


class ObjectStoreClient:
    """The EXACT conditional-write surface a cloud object store offers —
    each method maps 1:1 onto the real APIs, so a production backend is
    a mechanical substitution:

    - ``get`` → S3 GetObject (body + ETag) / GCS objects.get (generation)
    - ``put(if_match=etag)`` → S3 PutObject If-Match / GCS
      ``ifGenerationMatch=<gen>`` — succeeds only if the live object
      still carries that etag;
    - ``put(if_none_match=True)`` → S3 If-None-Match:* / GCS
      ``ifGenerationMatch=0`` — succeeds only if the key does not exist;
    - ``delete(if_match=etag)`` → conditional delete.

    No list/rename/lock primitives are used anywhere above this line —
    precisely the primitives object stores lack."""

    def get(self, key: str) -> tuple[bytes, str] | None:
        """(body, etag) or None when the key does not exist."""
        raise NotImplementedError

    def put(self, key: str, body: bytes, if_match: str | None = None,
            if_none_match: bool = False) -> str:
        """Write `body`; returns the new etag.  Raises PreconditionFailed
        when the condition does not hold."""
        raise NotImplementedError

    def delete(self, key: str, if_match: str | None = None) -> bool:
        """Remove the key (conditionally).  Returns False if absent."""
        raise NotImplementedError


class DirectoryObjectStore(ObjectStoreClient):
    """Directory-emulated object store with REAL durability: each key is
    one envelope file (etag + base64 body) replaced by atomic rename, and
    each key's read-check-write is serialized by a per-key ``fcntl``
    flock — the stand-in for the store service's internal per-object
    serialization, valid across PROCESSES, not just threads.  Nothing
    above the ObjectStoreClient surface can see the flock, so the
    protocol layer exercises exactly the semantics a real S3/GCS client
    would."""

    def __init__(self, base: str) -> None:
        self.base = base

    def _path(self, key: str) -> str:
        safe = hashlib.sha1(key.encode("utf-8")).hexdigest()
        return os.path.join(self.base, f"{safe}.obj")

    @contextlib.contextmanager
    def _key_lock(self, key: str):
        os.makedirs(self.base, exist_ok=True)
        fd = os.open(self._path(key) + ".lk", os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)  # closing releases the flock

    def _read(self, key: str) -> tuple[bytes, str] | None:
        try:
            with open(self._path(key), encoding="utf-8") as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            return None
        return base64.b64decode(doc["b64"]), doc["etag"]

    def get(self, key: str) -> tuple[bytes, str] | None:
        return self._read(key)

    def put(self, key: str, body: bytes, if_match: str | None = None,
            if_none_match: bool = False) -> str:
        with self._key_lock(key):
            cur = self._read(key)
            if if_none_match and cur is not None:
                raise PreconditionFailed(f"{key}: already exists")
            if if_match is not None and (cur is None or cur[1] != if_match):
                raise PreconditionFailed(
                    f"{key}: etag moved past {if_match}"
                )
            etag = uuid.uuid4().hex
            path = self._path(key)
            tmp = path + f".tmp-{etag}"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(
                    {"etag": etag,
                     "b64": base64.b64encode(body).decode("ascii")}, fh
                )
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, path)
            return etag

    def delete(self, key: str, if_match: str | None = None) -> bool:
        with self._key_lock(key):
            cur = self._read(key)
            if cur is None:
                return False
            if if_match is not None and cur[1] != if_match:
                raise PreconditionFailed(
                    f"{key}: etag moved past {if_match}"
                )
            os.unlink(self._path(key))
            return True


LEASE_KEY = "COMMIT.lease"


class ConditionalCommitProtocol(CommitProtocol):
    """The object-store commit backend: every primitive is built from
    conditional writes ONLY (see ObjectStoreClient), so the protocol
    ports unchanged to S3 conditional PUT / GCS generation preconditions.

    - ``swap_manifest`` is an etag CAS: read (body, etag) → verify
      ``based_on`` → put-if-match.  Losing the race raises
      CommitConflict, exactly like InMemoryCasProtocol — the store's
      retry loops handle it.
    - ``lock`` is a LEASE, not an advisory lock: acquisition is a
      conditional put of {token, expires_at}; a crashed holder's lease
      simply expires and the takeover is itself a put-if-match on the
      expired lease's etag, so exactly ONE of N waiters wins (the CAS
      arbitrates — no reap-intent machinery needed).  A holder that
      stalls past its lease and is taken over fails its eventual swap on
      the based_on/etag CAS instead of corrupting anything; release is
      token-guarded by construction (delete-if-match on the lease it
      wrote).  Correctness never rests on the lease — it only bounds
      wasted double-staging, the same division of labor Delta's S3
      LogStore draws.
    - aux documents ride plain puts (their read-modify-writes happen
      under the lease).

    `client_factory(root)` supplies the ObjectStoreClient per store root;
    the default emulates one durably under ``<root>/_objects/``."""

    def __init__(self, client_factory=None) -> None:
        self._factory = client_factory or (
            lambda root: DirectoryObjectStore(os.path.join(root, "_objects"))
        )
        self._clients: dict[str, ObjectStoreClient] = {}
        self._mu = threading.Lock()

    def _client(self, root: str) -> ObjectStoreClient:
        with self._mu:
            c = self._clients.get(root)
            if c is None:
                c = self._clients[root] = self._factory(root)
            return c

    @contextlib.contextmanager
    def lock(self, root: str, timeout: float = 60.0, stale: float = 300.0):
        client = self._client(root)
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        # jittered exponential backoff on lost CAS races: N waiters who
        # all observe the same lease release would otherwise hammer
        # get+put in lockstep — harmless on a local directory store,
        # a request storm (and 429 bills) against real S3/GCS.  The
        # jitter derives from the waiter's own token, so contending
        # writers desynchronize deterministically; capped so a waiter
        # never naps past the lease-poll cadence.
        lost_races = 0
        jitter = 0.5 + int(token[:4], 16) / 0xFFFF  # 0.5x..1.5x, per writer
        while True:
            body = json.dumps(
                {"token": token, "expires_at": time.time() + stale}
            ).encode("utf-8")
            try:
                cur = client.get(LEASE_KEY)
                if cur is None:
                    client.put(LEASE_KEY, body, if_none_match=True)
                    break
                doc = json.loads(cur[0])
                if doc.get("expires_at", 0) > time.time():
                    if time.monotonic() > deadline:
                        raise TimeoutError(
                            f"could not acquire commit lease for {root} "
                            f"within {timeout}s"
                        )
                    CONTENTION_STATS["waits"] += 1
                    time.sleep(0.02 * jitter)
                    continue
                # expired lease: CAS takeover — at most one winner
                client.put(LEASE_KEY, body, if_match=cur[1])
                CONTENTION_STATS["takeovers"] += 1
                break
            except PreconditionFailed:
                # lost a race; observe the new state and retry, backing
                # off harder each consecutive loss
                lost_races += 1
                CONTENTION_STATS["lost_cas_races"] += 1
                time.sleep(min(0.002 * (2 ** lost_races), 0.05) * jitter)
                continue
        try:
            yield
        finally:
            try:
                cur = client.get(LEASE_KEY)
                if cur is not None and \
                        json.loads(cur[0]).get("token") == token:
                    client.delete(LEASE_KEY, if_match=cur[1])
            except (PreconditionFailed, OSError, ValueError):
                pass  # taken over while stalled — leave the new lease be

    def read_manifest(self, root: str) -> dict | None:
        cur = self._client(root).get(MANIFEST)
        return json.loads(cur[0]) if cur is not None else None

    def swap_manifest(
        self, root: str, txid: str, manifest: dict,
        based_on: int | None = None,
    ) -> None:
        client = self._client(root)
        body = json.dumps(manifest, indent=2).encode("utf-8")
        while True:
            cur = client.get(MANIFEST)
            cur_version = json.loads(cur[0])["version"] if cur else 0
            if based_on is not None and cur_version != based_on:
                raise CommitConflict(
                    f"manifest at {root} moved past version {based_on}"
                )
            try:
                if cur is None:
                    client.put(MANIFEST, body, if_none_match=True)
                else:
                    client.put(MANIFEST, body, if_match=cur[1])
                return
            except PreconditionFailed as e:
                if based_on is not None:
                    # the CAS itself caught a racing writer that landed
                    # between our read and put — same contract
                    raise CommitConflict(
                        f"manifest at {root} moved past version {based_on}"
                    ) from e
                # unconditioned swap: last-write-wins, re-read and retry

    def read_aux(self, root: str, filename: str) -> dict | None:
        cur = self._client(root).get(filename)
        return json.loads(cur[0]) if cur is not None else None

    def write_aux(self, root: str, filename: str, doc: dict) -> None:
        self._client(root).put(
            filename, json.dumps(doc).encode("utf-8")
        )


_DEFAULT = PosixCommitProtocol()
_REGISTRY: dict[str, CommitProtocol] = {}
_PROTOCOLS = {
    "posix": PosixCommitProtocol,
    "conditional": ConditionalCommitProtocol,
}


def protocol_for(root: str) -> CommitProtocol:
    """The commit protocol governing `root`: an explicitly registered one
    wins; else a persisted ``<root>/_PROTOCOL.json`` selects by name
    (``{"protocol": "conditional"}`` — how a store root opts into the
    object-store backend durably, for every future session); else the
    POSIX default."""
    proto = _REGISTRY.get(root)
    if proto is not None:
        return proto
    cfg = os.path.join(root, PROTOCOL_CONFIG)
    try:
        with open(cfg, encoding="utf-8") as fh:
            name = json.load(fh)["protocol"]
    except (OSError, ValueError, KeyError):
        # cache the MISS too: a default-POSIX root otherwise re-attempts
        # this open on every commit/read for the life of the session.
        # Safe to pin — the backend must be selected before the first
        # publish (persist_protocol refuses mid-life switches), and both
        # persist_protocol and set_protocol write _REGISTRY directly, so
        # an in-session selection still overrides the cached default.
        _REGISTRY[root] = _DEFAULT
        return _DEFAULT
    proto = _PROTOCOLS[name]()
    _REGISTRY[root] = proto  # cache: one instance per root per session
    return proto


def set_protocol(root: str, protocol: CommitProtocol | None) -> None:
    """Register (or, with None, clear) the commit protocol for a store
    root — how an object-store CAS backend is dropped in for one
    session.  ``persist_protocol`` makes the choice durable."""
    if protocol is None:
        _REGISTRY.pop(root, None)
    else:
        _REGISTRY[root] = protocol


def persist_protocol(root: str, name: str) -> None:
    """Durably select `root`'s commit backend by writing
    ``_PROTOCOL.json`` (and register it in-session).  Must be chosen at
    store creation: switching an existing store's backend mid-life would
    leave the manifest under the OLD backend's keys."""
    if name not in _PROTOCOLS:
        raise ValueError(
            f"unknown protocol {name!r} (one of {sorted(_PROTOCOLS)})"
        )
    os.makedirs(root, exist_ok=True)
    cfg = os.path.join(root, PROTOCOL_CONFIG)
    if os.path.exists(os.path.join(root, MANIFEST)) or (
        os.path.exists(cfg)
        and json.load(open(cfg, encoding="utf-8")).get("protocol") != name
    ):
        raise ValueError(
            f"store at {root} already committed under another backend — "
            "the protocol must be selected before the first publish"
        )
    with open(cfg, "w", encoding="utf-8") as fh:
        json.dump({"protocol": name}, fh)
    _REGISTRY[root] = _PROTOCOLS[name]()
