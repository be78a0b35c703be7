"""runtime.KeyedCache — the one memo behind the parquet-plan, sidecar-stats,
manifest-JSON, span-feed and pivot-value caches: LRU under a constant cap,
single-flight misses, supersede by version, path invalidation by whole
components, and a release callback that runs exactly once per owned
value.  No Spark session needed."""

from __future__ import annotations

import threading
import time

import pytest

from dataintegration_ecomprovider_spark import runtime


class _Owned:
    """A value owning storage: counts its own releases."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.releases = 0


def _owning_cache(cap: int, path=None) -> runtime.KeyedCache:
    def release(value: _Owned) -> None:
        value.releases += 1

    return runtime.KeyedCache(cap, path=path, release=release)


def test_lru_eviction_under_the_cap():
    cache = runtime.KeyedCache(2)
    computed = []

    def get(slot):
        return cache.get(slot, None, lambda: computed.append(slot) or slot)

    get("a")
    get("b")
    assert get("a") == "a"  # hit: "a" is now the most recently used
    get("c")  # evicts "b", the least recently used
    assert [slot for slot, _ in cache.keys()] == ["a", "c"]
    get("b")
    assert computed == ["a", "b", "c", "b"]
    assert len(cache) == 2


def test_single_flight_shares_one_result():
    cache = runtime.KeyedCache(4)
    calls = []

    def slow():
        calls.append(1)
        time.sleep(0.3)  # hold the flight open while the others arrive
        return object()

    got = runtime.map_concurrently(lambda _: cache.get("s", 1, slow), range(4))
    assert len(calls) == 1
    assert len({id(v) for v in got}) == 1
    assert cache.in_flight() == 0


def test_failed_flight_reraises_everywhere_and_leaves_nothing():
    cache = runtime.KeyedCache(4)
    calls = []

    def failing():
        calls.append(1)
        time.sleep(0.3)
        raise KeyError("vacuumed")

    def attempt(_):
        try:
            cache.get("s", 1, failing)
        except KeyError as e:
            return e
        return None

    errors = runtime.map_concurrently(attempt, range(3))
    assert len(calls) == 1
    assert all(isinstance(e, KeyError) for e in errors)
    assert len({id(e) for e in errors}) == 1  # the one exception
    assert cache.in_flight() == 0 and len(cache) == 0
    # the next caller retries instead of finding a cached failure
    assert cache.get("s", 1, lambda: "ok") == "ok"


def test_newer_version_supersedes_the_slot():
    cache = _owning_cache(4)
    v1, v2 = _Owned("v1"), _Owned("v2")
    assert cache.get("s", 1, lambda: v1) is v1
    assert cache.get("s", 1, lambda: pytest.fail("hit expected")) is v1
    assert cache.get("s", 2, lambda: v2) is v2
    assert cache.keys() == [("s", 2)]
    assert (v1.releases, v2.releases) == (1, 0)
    # an older version is a miss too: the slot holds exactly one
    v1b = _Owned("v1b")
    assert cache.get("s", 1, lambda: v1b) is v1b
    assert cache.keys() == [("s", 1)]
    assert v2.releases == 1


def test_path_invalidation_compares_whole_components(tmp_path):
    root = str(tmp_path.resolve())
    cache = runtime.KeyedCache(8, path=lambda slot: slot)
    slots = [
        f"{root}/s", f"{root}/s/data/1", f"{root}/s2", f"{root}/s2/data/1",
        root,
    ]
    for slot in slots:
        cache.get(slot, None, lambda: 0)
    runtime.invalidate_path(f"{root}/s")
    # /s and what lies under it go, and so does the directory containing
    # it; the sibling /s2 stays
    assert [slot for slot, _ in cache.keys()] == [
        f"{root}/s2", f"{root}/s2/data/1",
    ]
    runtime.invalidate_path(f"{root}/s2/data/1")
    assert [slot for slot, _ in cache.keys()] == []


def test_pathless_caches_ignore_invalidation(tmp_path):
    cache = runtime.KeyedCache(4)
    cache.get(str(tmp_path), None, lambda: 0)
    runtime.invalidate_path(str(tmp_path))
    assert len(cache) == 1


def test_release_runs_once_per_owned_value(tmp_path):
    root = str(tmp_path.resolve())
    cache = _owning_cache(2, path=lambda slot: slot[0])
    a, b, c, a2, d = (_Owned(n) for n in "a b c a2 d".split())
    cache.get((f"{root}/a", "x"), 1, lambda: a)
    cache.get((f"{root}/b", "x"), 1, lambda: b)
    cache.get((f"{root}/c", "x"), 1, lambda: c)  # evicts a
    assert a.releases == 1
    cache.get((f"{root}/b", "x"), 2, lambda: a2)  # supersedes b
    assert b.releases == 1
    runtime.invalidate_path(f"{root}/c")  # drops c
    assert c.releases == 1
    cache.get((f"{root}/d", "x"), 1, lambda: d)
    assert cache.owns_storage
    runtime.release_caches()  # drains the caches that own storage
    assert len(cache) == 0
    cache.clear()  # nothing left to release twice
    assert [v.releases for v in (a, b, c, a2, d)] == [1, 1, 1, 1, 1]


def test_concurrent_misses_on_many_slots_stay_under_the_cap():
    cache = _owning_cache(8)
    made: list[_Owned] = []
    lock = threading.Lock()

    def make(i):
        value = _Owned(str(i))
        with lock:
            made.append(value)
        return value

    def worker(t):
        for i in range(200):
            slot = (t * 7 + i) % 40
            cache.get(slot, i % 3, lambda: make(slot))

    runtime.map_concurrently(worker, range(4))
    assert len(cache) <= 8
    cache.clear()
    assert all(v.releases == 1 for v in made)


def test_weighted_cap_evicts_by_summed_weight():
    cache = runtime.KeyedCache(10, release=lambda v: None, weigh=lambda v: v)
    cache.get("a", 1, lambda: 4)
    cache.get("b", 1, lambda: 5)
    cache.get("a", 1, lambda: 0)  # hit: "a" is now the most recently used
    cache.get("c", 1, lambda: 3)  # 12 > 10 evicts "b", the least recent
    assert [slot for slot, _ in cache.keys()] == ["a", "c"]
    cache.get("a", 2, lambda: 6)  # supersede re-weighs: 6 + 3 fits
    assert [slot for slot, _ in cache.keys()] == ["c", "a"]
    cache.discard("c")
    cache.get("d", 1, lambda: 4)  # 6 + 4 fits once "c" is gone
    assert [slot for slot, _ in cache.keys()] == ["a", "d"]
